package perfbench

/** The metrics one run reports, by name and unit. Every workload reports
  * every metric of its mode; a layer a workload does not touch reads 0. */
object Metrics {

  /** The tail percentile `op_p80_s` reports: the highest whose nearest
    * rank leaves ten samples beyond it in a `queries_light` run. */
  val TailRank = 0.8

  /** Reported with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "op_p80_s" -> "s",
    "pass_s" -> "s",
    "items_per_s" -> "1/s",
    "peak_rss_mb" -> "MB")

  /** The query packs a workload draws from. */
  val packs: Seq[String] = Seq("Relational", "ExtendedOps", "MergeQueries",
    "TimeSeriesQueries", "StreamingQueries")

  /** Span and listener totals summed per operation. */
  val sparkCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "task_wait_s" -> "s",
    "shuffle_write_bytes" -> "B", "shuffle_read_bytes" -> "B",
    "spill_bytes" -> "B", "failed_tasks" -> "count")

  /** The steps a pipeline batch is split into, by the catalog table a
    * job's SQL execution writes (or the next one written after it). */
  val steps: Seq[String] = Seq("bronze", "silver", "gold", "other")

  val stepCounters: Seq[(String, String)] = Seq("jobs" -> "count", "task_run_s" -> "s")

  /** Reported with tracing on. */
  val perLayer: Seq[(String, String)] =
    Seq("Tables.open_s" -> "s", "Tables.open_jobs" -> "count",
      "queries.build_s" -> "s", "queries.build_jobs" -> "count",
      "queries.plan_s" -> "s", "queries.exec_s" -> "s") ++
      packs.map(p => s"queries.${p}_s" -> "s") ++
      sparkCounters.map { case (k, u) => s"spark.$k" -> u } ++
      Seq("spark.persisted_after_query" -> "count") ++
      (for (s <- steps; (k, u) <- stepCounters) yield s"pipeline.${s}_$k" -> u) ++
      Seq("storage.output_bytes" -> "B", "storage.output_records" -> "count",
        "storage.write_amp" -> "ratio", "storage.read_s" -> "s",
        "storage.read_jobs" -> "count", "pipeline.classify_reused_frac" -> "ratio",
        "trace.overhead_frac" -> "ratio")
}

/** What one run prints as its last line. */
final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double],
    traced: Boolean) {

  def json: String = {
    val catalog = if (traced) Metrics.perLayer else Metrics.endToEnd
    val ms = catalog.map { case (name, unit) =>
      s""""$name": {"value": ${Json.num(metrics.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  /** A finite JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
