package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed request of a workload's closed loop. */
final case class Sample(kind: String, ms: Double, ok: Boolean, note: String = "")

/** A workload: set-up (generate inputs, build stores), a closed-loop
  * request, and the per-run facts the report adds. */
trait Workload {
  /** Build everything the loop needs under `dir`; returns the SHA-256
    * of the generated inputs. Called several times (fresh `dir` each);
    * the last set-up is the one the loop runs against. */
  def setup(dir: Path): String
  /** The input digest for `seed` alone, without writing anything. */
  def inputDigest(seed: Long): String
  /** The kind of request whose latency is the workload's headline. */
  def primary: String
  /** Requests a run makes: a fixed number, so that every build's
    * median rests on the same requests against the same store states. */
  def requests: Int
  /** Request number `i`: times itself through `timed`, then checks. */
  def request(i: Int, timed: Timer): Sample
  /** Read-only checks on the state the whole loop left behind; None
    * when sound. */
  def verify(): Option[String] = None
  /** Workload facts for the report (store sizes and the like). */
  def facts(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Times a request body and records it as a span when tracing. */
final class Timer(tracer: Option[Tracer]) {
  private var nextId = 0
  def apply[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.foreach(_.recordOp(id, name, w0, System.currentTimeMillis()))
    (r, ms)
  }
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, report: Option[Path])

  /** Local-mode threads, shuffle partitions and the utilisation
    * denominator: every core of the machine. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Set-ups per run; the median is reported. */
  val setups = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      m.get("report").map(Paths.get(_)))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        a.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w: Workload = a.workload match {
      case "crawl_to_shards" => new CrawlToShards(spark, a.seed)
      case "store_takedown" => new StoreTakedown(spark, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var exit = 0
    try {
      // set-up, several times: the median is the reported set-up time,
      // and equal digests prove the inputs are byte-identical per seed
      val reps = (1 to setups).map { r =>
        val t0 = System.nanoTime()
        val dg = w.setup(a.work.resolve(s"setup-$r"))
        ((System.nanoTime() - t0) / 1e9, dg)
      }
      val digests = reps.map(_._2).distinct
      if (digests.size != 1) failures += s"inputs differ across set-ups: $digests"
      val other = w.inputDigest(a.seed + 1)
      if (w.inputDigest(a.seed) != digests.head)
        failures += "in-memory digest differs from the written inputs"
      if (other == digests.head) failures += "seeds a and a+1 gave equal inputs"
      val setupS = sessionS + median(reps.map(_._1))

      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.register())
      val timer = new Timer(tracer)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val t0 = System.nanoTime()
      var i = 0
      // a failed request ends the loop: the run is incorrect either way
      while (samples.forall(_.ok) && i < w.requests) {
        val s = try w.request(i, timer) catch {
          case e: Throwable =>
            Sample("error", Double.NaN, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        }
        if (!s.ok) failures += s"request $i (${s.kind}): ${s.note}"
        samples += s
        i += 1
      }
      val loopS = (System.nanoTime() - t0) / 1e9
      // --seconds is a floor that adds no request: the read-only end
      // checks repeat until it has passed
      def check() = try w.verify() catch { case e: Throwable => Some(e.toString) }
      var end = check()
      var checks = 1
      while (end.isEmpty && (System.nanoTime() - t0) / 1e9 < a.seconds) {
        end = check(); checks += 1
      }
      end.foreach { f =>
        failures += s"after the loop: $f"
        samples += Sample("verify", Double.NaN, ok = false, f)
      }
      tracer.foreach(_.drain())
      val traced = tracer.map(_.report(cores))
      tracer.foreach(_.unregister())
      val facts = w.facts()

      val byKind = samples.filter(_.ok).groupBy(_.kind)
        .map { case (k, ss) => k -> ss.map(_.ms).toSeq }
      val prim = byKind.getOrElse(w.primary, Seq.empty)
      val failed = samples.count(!_.ok)
      val correct = failures.isEmpty
      val e2e = Map(
        "setup_s" -> (setupS, "s"),
        "request_p50_ms" -> (median(prim), "ms"),
        "peak_rss_mb" -> (peakRssMb(), "MB"))
      val perLayer = traced.map(t => Layers.metrics(t, facts, prim))
        .getOrElse(Map.empty)
      val metrics = if (a.trace) perLayer else e2e
      val line = Map(
        "correct" -> correct, "attempted" -> samples.size, "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) })
      val report = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "cores" -> cores,
        "session_s" -> sessionS, "setup_reps_s" -> reps.map(_._1),
        "input_digest" -> digests.head, "loop_s" -> loopS,
        "end_checks" -> checks,
        "ops_failed_frac" -> failed.toDouble / samples.size,
        "failures" -> failures,
        "samples" -> samples.map(s => Map("kind" -> s.kind, "ms" -> s.ms,
          "ok" -> s.ok, "note" -> s.note)),
        "latency" -> byKind.map { case (k, xs) => k -> Layers.latency(xs) },
        "facts" -> facts,
        "traced" -> traced,
        "result" -> line)
      a.report.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, Json.render(report) + "\n")
      }
      if (!correct) {
        failures.take(20).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
        exit = 3
      }
      println(Json.render(line))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 2
    } finally {
      try w.close() finally spark.stop()
    }
    System.out.flush()
    sys.exit(exit)
  }
}
