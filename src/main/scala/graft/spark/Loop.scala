package graft.spark

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Shuffle/AQE pinning for iterative driver loops (Lloyd rounds, label
  * propagation, BPE merge rounds).
  *
  * The frames these loops shuffle on the REDUCE side are model- or
  * dup-set-sized — k·dim centroid stats, pair counts bounded by the
  * vocabulary, labels over duplicate-edge endpoints — not corpus-sized
  * (map-side partial aggregation compacts corpus scans before the
  * wire). At that size the session default of one shuffle partition
  * per core plus an AQE re-planning pass per stage costs more per
  * round than the data: measured on the connected-components loop, a
  * few hundred edges took ~0.6 s/round of pure scheduling before
  * pinning. Pinning a handful of partitions and disabling adaptive
  * re-planning inside the loop removes that constant without touching
  * the operators' one-shuffle-per-round shape.
  *
  * Scale contract: the pinned width is `spark.graft.loop.partitions`
  * (default 4). On a large cluster where the dup-edge set itself is
  * huge (label propagation over billions of duplicate docs), raise it
  * — the knob exists precisely so the 100× path is a deliberate
  * choice, not a silent recompile.
  *
  * Conf changes are session-wide while the body runs; callers only
  * wrap driver-side loops whose actions all execute inside (Spark
  * reads `spark.sql.shuffle.partitions` at action-planning time, so
  * frames RETURNED from the body plan under the caller's restored
  * conf).
  */
object Loop {

  /** Session conf key: shuffle width inside pinned iterative loops. */
  val PartitionsConf = "spark.graft.loop.partitions"

  /** Scale-adaptive loop width: the loop input's SCAN parallelism,
    * clamped to [4, session shuffle width]. Derived, not constant — at
    * sf0.1 the parquet edge lists read as 12-16 splits so the loop's
    * per-round merge over the stationary edge frame keeps that
    * parallelism; at 100 TB the same code sees data/maxPartitionBytes
    * splits and the loop inherits the session width instead of
    * silently serializing onto 4 reducers. Meaningful for LEAF-ish
    * inputs (a scan, a cached table) whose partition count reflects
    * data volume; shuffle-derived frames just report the session conf,
    * which the clamp tolerates — pass those loops no hint instead. An
    * explicit `spark.graft.loop.partitions` still overrides (checked
    * inside [[pinned]] and [[resolveWidth]]). */
  def widthFor(input: org.apache.spark.sql.DataFrame): Option[Int] = {
    val spark = input.sparkSession
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val in =
      try input.rdd.getNumPartitions
      catch { case NonFatal(_) => 4 }
    Some(math.max(4, math.min(session, in)))
  }

  /** The width [[pinned]] will actually use for the given hint — for
    * callers that must pre-partition a stationary frame with an
    * explicit (conf-independent) partition count. */
  def resolveWidth(spark: SparkSession, width: Option[Int]): Int =
    spark.conf.getOption(PartitionsConf).map(_.toInt)
      .orElse(width).getOrElse(4)

  def pinned[T](spark: SparkSession, width: Option[Int] = None)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(c => c -> spark.conf.getOption(c))
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption(PartitionsConf)
        .orElse(width.map(_.toString)).getOrElse("4"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // No size-estimate broadcasts inside a loop: both join sides are
    // DATA-sized (edge lists, label/rank frames) and a broadcast join
    // re-collects and re-builds its hash relation EVERY round — at
    // sf0.1 that was ~0.3 s/round re-broadcasting a 1.3M-row edge list
    // whose parquet stats undersell its in-memory size, and at 100 TB
    // the same plan is an OOM. Loops run co-partitioned joins against
    // stationary (cached, pre-partitioned) frames instead.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
