package perfbench

import graft.queries._

sealed trait Workload { def name: String }

/** Fixed queries over the sf0.1 tables; the seed orders each pass. */
final case class QueryWorkload(name: String, queries: Seq[String]) extends Workload

/** Generated micro-batches through `pipeline.Runner`. */
final case class PipelineWorkload(name: String, spec: PipelineSpec) extends Workload

object Workloads {

  val all: Seq[Workload] = Seq(
    QueryWorkload("queries_light", Seq(
      // Relational, with s26 reading through the SQL door
      "a6_global_agg", "p2_string_funcs", "w1_rank_global", "s26_sql_string_meta",
      // ExtendedOps, with the ANSI SQL sql4
      "p12_unpivot", "e1_json_extract", "sql4_lateral_top_order",
      // MergeQueries: versioned-catalog merges and reads
      "k2_upsert", "k10_snapshot_diff",
      // TimeSeriesQueries
      "gov2_l_diversity", "o6_union_by_name",
      // StreamingQueries
      "w6_running_total", "st1_tumbling_window")),
    // batch size: the reference's MAX_REPOSITORIES; the shares and the
    // description length are unverified estimates (see README.md)
    PipelineWorkload("pipeline_rescan", PipelineSpec(batchSize = 1000,
      reseenShare = 0.9, ruleShare = 0.85, descLength = 80, nullShare = 0.05,
      warmup = 2, batches = 2)))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The pack each query is declared in. */
  lazy val packOf: Map[String, String] = Seq(
    "Relational" -> Relational.all, "ExtendedOps" -> ExtendedOps.all,
    "MergeQueries" -> MergeQueries.all, "TimeSeriesQueries" -> TimeSeriesQueries.all,
    "StreamingQueries" -> StreamingQueries.all, "FunctionQueries" -> FunctionQueries.all,
    "TrainingQueries" -> TrainingQueries.all, "ExtensionQueries" -> ExtensionQueries.all,
    "VectorQueries" -> VectorQueries.all, "GraphQueries" -> GraphQueries.all,
  ).flatMap { case (pack, qs) => qs.map(_.name -> pack) }.toMap
}
