package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: Spark listeners on the benchmark's own
  * session, nothing inside graft. Each job is attributed to the graft
  * module whose frame triggered its action — the innermost `graft.`
  * frame of the SQL execution's call site (job property
  * `spark.sql.execution.id`), falling back to the stage call site —
  * so adaptive-execution jobs submitted from scheduler threads still
  * land on the module that ran the query. Jobs the harness itself runs
  * (correctness checks, input landing) go to `bench`; jobs with no
  * graft or harness frame go to `unattributed`. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final case class Job(id: Int, start: Long, stages: Seq[Int],
                       execId: Option[Long], stageDetails: String) {
    @volatile var end: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var empty = 0L; var runMs = 0L
    var shReadB = 0L; var shWriteB = 0L; var spillB = 0L
  }
  final case class Op(id: Int, name: String, start: Long, end: Long)

  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val planMs = new ConcurrentHashMap[Long, Long]() // end time -> ms
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val jobsEnded = new AtomicLong()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def recordOp(id: Int, name: String, start: Long, end: Long): Unit =
    synchronized { ops += Op(id, name, start, end) }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execDetails.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val exec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val details = js.stageInfos.headOption.map(_.details).getOrElse("") +
      "\n" + props.flatMap(p => Option(p.getProperty("callSite.long")))
        .getOrElse("")
    jobs.put(js.jobId, Job(js.jobId, js.time, js.stageIds, exec, details))
    js.stageIds.foreach(s => stageJob.put(s, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(te.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) a.empty += 1
        a.runMs += m.executorRunTime
        a.shReadB += m.shuffleReadMetrics.totalBytesRead
        a.shWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = plan(qe)

  /** Catalyst analysis + optimisation + planning time of one action. */
  private def plan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    planMs.merge(System.currentTimeMillis(), ms, (a: Long, b: Long) => a + b)
  }

  /** Wait until every started job has been seen to end (listener
    * events arrive asynchronously). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobs.size && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  private val graftFrame = """(?m)^\s*graft\.([A-Za-z]+)\.?([A-Za-z]*)""".r
  private val benchFrame = """(?m)^\s*perfbench\.""".r

  /** Module of a call-site long form: `pkg.Object` of the innermost
    * graft frame (`Cli` for a top-level object). */
  def moduleOf(callSite: String): String =
    graftFrame.findFirstMatchIn(callSite) match {
      case Some(m) if m.group(2).nonEmpty => s"${m.group(1)}.${m.group(2)}"
      case Some(m) => m.group(1)
      case None =>
        if (benchFrame.findFirstIn(callSite).nonEmpty) "bench" else "unattributed"
    }

  private def jobModule(j: Job): String = {
    val viaExec = j.execId.flatMap(e => Option(execDetails.get(e)))
      .map(moduleOf).filter(_ != "unattributed")
    viaExec.getOrElse(moduleOf(j.stageDetails))
  }

  final case class ModuleAgg(var jobs: Long = 0, var jobMs: Long = 0,
                             var runMs: Long = 0, var shuffleB: Long = 0)

  /** Counters over the recorded ops (jobs outside every op, such as
    * set-up, are left out), plus spans. `cores` sizes utilisation. */
  def report(cores: Int): Map[String, Any] = synchronized {
    val opList = ops.toList
    def opOf(t: Long): Option[Op] = opList.find(o => t >= o.start && t <= o.end)
    val inOps = jobs.values.asScala.toList.filter(j => opOf(j.start).nonEmpty)
      .sortBy(_.id)
    val jobStages = inOps.map(j => j -> j.stages.filter(s =>
      stageJob.get(s) == j.id).flatMap(s => Option(stages.get(s))))
    val mods = mutable.TreeMap.empty[String, ModuleAgg]
    var tasks, empty, runMs, rd, wr, sp = 0L
    var nStages = 0L
    jobStages.foreach { case (j, sts) =>
      val a = mods.getOrElseUpdate(jobModule(j), ModuleAgg())
      a.jobs += 1
      if (j.end > 0) a.jobMs += j.end - j.start
      sts.foreach { s =>
        nStages += 1
        tasks += s.tasks; empty += s.empty; runMs += s.runMs
        rd += s.shReadB; wr += s.shWriteB; sp += s.spillB
        a.runMs += s.runMs; a.shuffleB += s.shReadB + s.shWriteB
      }
    }
    // driver gap: op wall minus the union of its jobs' intervals
    var gapMs = 0L
    var wallMs = 0L
    opList.foreach { o =>
      wallMs += o.end - o.start
      val iv = inOps.filter(j => opOf(j.start).contains(o))
        .map(j => (j.start, if (j.end > 0) math.min(j.end, o.end) else o.end))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      gapMs += (o.end - o.start) - covered
    }
    val plan = planMs.asScala.collect {
      case (t, ms) if opOf(t).nonEmpty => ms.longValue
    }.sum
    val nOps = math.max(1, opList.size).toDouble
    val engineJobs = inOps.size - mods.get("bench").map(_.jobs).getOrElse(0L)
    Map(
      "ops" -> opList.size,
      "op_wall_s" -> wallMs / 1000.0,
      "jobs" -> inOps.size, "stages" -> nStages, "tasks" -> tasks,
      "exec_run_s" -> runMs / 1000.0,
      "exec_util" -> (if (wallMs == 0) 0.0 else runMs.toDouble / (wallMs * cores)),
      "shuffle_read_mb" -> rd / 1e6, "shuffle_write_mb" -> wr / 1e6,
      "spill_mb" -> sp / 1e6,
      "driver_gap_s" -> gapMs / 1000.0,
      "driver_gap_frac" -> (if (wallMs == 0) 0.0 else gapMs.toDouble / wallMs),
      "plan_s" -> plan / 1000.0,
      "empty_task_frac" -> (if (tasks == 0) 0.0 else empty.toDouble / tasks),
      "engine_jobs" -> engineJobs,
      "attributed_frac" -> (if (engineJobs <= 0) 0.0 else
        (engineJobs - mods.get("unattributed").map(_.jobs).getOrElse(0L))
          .toDouble / engineJobs),
      "per_op_divisor" -> nOps,
      "modules" -> mods.map { case (m, a) => m -> Map(
        "jobs" -> a.jobs, "job_s" -> a.jobMs / 1000.0,
        "exec_run_s" -> a.runMs / 1000.0, "shuffle_mb" -> a.shuffleB / 1e6)
      }.toMap,
      "spans" -> (opList.map(o => Map("name" -> o.name, "start" -> o.start,
          "end" -> o.end, "parent" -> None, "op" -> o.id)) ++
        inOps.map(j => Map("name" -> s"job ${j.id} ${jobModule(j)}",
          "start" -> j.start, "end" -> j.end,
          "parent" -> opOf(j.start).map(_.id),
          "op" -> opOf(j.start).map(_.id))))
    )
  }
}
