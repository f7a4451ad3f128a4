package perfbench

/** The fixed per-layer metric set every traced run prints, derived
  * from the [[Tracer]] report. Counters are per request. */
object Layers {

  /** graft modules with their own counters; any other graft module is
    * summed into `other`. A job counts toward the module whose frame
    * runs its action, so lazy work lands where it is materialised:
    * source scans on the stage or sink that runs them (`sources.Sources`
    * runs no action of its own on these workloads), and
    * `pipeline.Pipeline` hands every action to a stage or sink. Neither
    * gets counters of its own. */
  val modules: Seq[String] = Seq("llm.Dedup", "llm.TextAnalysis",
    "llm.Mixing", "llm.Packing", "llm.Search", "llm.Similarity",
    "llm.LinkGraph", "streaming.IndexIngest", "sinks.Sinks",
    "pipeline.ConfigLoader")

  /** Latency summary of one request kind. */
  def latency(xs: Seq[Double]): Map[String, Any] = Map("n" -> xs.size,
    "p50_ms" -> Main.median(xs),
    "max_ms" -> (if (xs.isEmpty) Double.NaN else xs.max))

  def metrics(t: Map[String, Any], facts: Map[String, Double],
              primary: Seq[Double]): Map[String, (Double, String)] = {
    def d(k: String): Double = t(k) match {
      case n: Number => n.doubleValue
      case _ => Double.NaN
    }
    val perOp = d("per_op_divisor")
    val mods = t("modules").asInstanceOf[Map[String, Map[String, Any]]]
    def mv(m: Map[String, Any], k: String): Double =
      m(k).asInstanceOf[Number].doubleValue
    val spark = Map(
      "spark.jobs" -> (d("jobs") / perOp, "count"),
      "spark.stages" -> (d("stages") / perOp, "count"),
      "spark.tasks" -> (d("tasks") / perOp, "count"),
      "spark.exec_run_s" -> (d("exec_run_s") / perOp, "s"),
      "spark.exec_util" -> (d("exec_util"), "ratio"),
      "spark.shuffle_read_mb" -> (d("shuffle_read_mb") / perOp, "MB"),
      "spark.shuffle_write_mb" -> (d("shuffle_write_mb") / perOp, "MB"),
      "spark.spill_mb" -> (d("spill_mb") / perOp, "MB"),
      "spark.driver_gap_s" -> (d("driver_gap_s") / perOp, "s"),
      "spark.driver_gap_frac" -> (d("driver_gap_frac"), "ratio"),
      "spark.plan_s" -> (d("plan_s") / perOp, "s"),
      "spark.empty_task_frac" -> (d("empty_task_frac"), "ratio"),
      "spark.attributed_frac" -> (d("attributed_frac"), "ratio"))
    val named = (modules :+ "unattributed").map(m => m -> mods.get(m))
    val other = mods.filter { case (m, _) =>
      !modules.contains(m) && m != "unattributed" && m != "bench" }.values
    def four(prefix: String, ms: Iterable[Map[String, Any]]) = Seq(
      s"$prefix.jobs" -> (ms.map(mv(_, "jobs")).sum / perOp, "count"),
      s"$prefix.job_s" -> (ms.map(mv(_, "job_s")).sum / perOp, "s"),
      s"$prefix.exec_run_s" -> (ms.map(mv(_, "exec_run_s")).sum / perOp, "s"),
      s"$prefix.shuffle_mb" -> (ms.map(mv(_, "shuffle_mb")).sum / perOp, "MB"))
    val modMetrics = named.flatMap { case (m, a) => four(m, a.toSeq) } ++
      four("other", other)
    val factMetrics = Seq(
      "pipeline.parse_s" -> (facts.getOrElse("parse_s", 0.0), "s"),
      "store.files" -> (facts.getOrElse("store_files", 0.0), "count"),
      "store.generations" -> (facts.getOrElse("store_generations", 0.0), "count"),
      "ledger.files" -> (facts.getOrElse("ledger_files", 0.0), "count"),
      "trace.request_p50_ms" -> (Main.median(primary), "ms"))
    spark ++ modMetrics ++ factMetrics
  }
}
