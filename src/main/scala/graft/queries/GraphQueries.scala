package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-operator pack: PageRank / degree stats / triangle enumeration
  * over the customer–supplier interaction graph derived from the fact
  * tables.
  *
  * A corpus pipeline needs the graph tier for domain-authority weighting
  * (PageRank over the link graph), popularity/degree audits, and
  * community structure checks — none of which the reference has, all of
  * which run on exactly this edge-list shape at 100 TB.
  *
  * Oracle strategy: PageRank is fixed-point integer arithmetic
  * ([[graft.operators.Graph.pageRankFixedPoint]]) so the DuckDB oracle
  * can unroll the identical recurrence as chained CTEs and match
  * bit-for-bit — the same unrolled-oracle trick the BPE trainer (t24)
  * uses for its iterative loop.
  */
object GraphQueries {

  /** The interaction graph: one directed edge per distinct
    * (customer, supplier) trading pair, in BOTH directions (symmetric —
    * every node has out-degree ≥ 1, so no dangling-mass handling is
    * needed). Node ids are namespaced ("c123" / "s45") since the two key
    * spaces overlap.
    */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val cs = pairs.select(
      concat(lit("c"), col("c").cast("string")).as("src"),
      concat(lit("s"), col("s").cast("string")).as("dst"))
    val sc = pairs.select(
      concat(lit("s"), col("s").cast("string")).as("src"),
      concat(lit("c"), col("c").cast("string")).as("dst"))
    cs.unionByName(sc)
  }

  /** The edge list MATERIALIZED once per testdata generation
    * (fingerprint-keyed scratch parquet, marker-last like every other
    * persisted scratch state): five graph queries consume the same
    * derived graph, so the fact-table join + distinct runs once, not
    * once per query — exactly how a production pipeline materializes
    * its edge table before the graph tier runs. Falls back to the
    * inline derivation if the scratch dir is unwritable. */
  private def tradeEdgesCached(s: SparkSession, d: String): DataFrame = {
    try {
      val (dir, _) = graft.storage.Scratch.state("trade_edges", d) { dir =>
        tradeEdges(s, d).write.mode("overwrite").parquet(s"$dir/edges")
        "ok"
      }
      graft.storage.FooterSchema.parquet(s, s"$dir/edges")
    } catch {
      case _: java.io.IOException => tradeEdges(s, d)
    }
  }

  private val edgesCte =
    """pairs AS (
         SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       edges AS (
         SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
         UNION ALL
         SELECT 's' || s AS src, 'c' || c AS dst FROM pairs)"""

  /** Unrolled fixed-point PageRank recurrence as DuckDB CTEs — must stay
    * in lockstep with [[Graph.pageRankFixedPoint]] (scale 1e12, damping
    * 85/100). `CAST(SUM(..) AS BIGINT)` because DuckDB widens BIGINT
    * sums to HUGEINT (int128) while Spark stays LONG.
    */
  private def pageRankSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS MATERIALIZED (
            SELECT e.dst AS id, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN deg d ON d.src = e.src
            JOIN r${i - 1} r ON r.id = e.src
            GROUP BY e.dst),
          r$i AS MATERIALIZED (
            SELECT n.id,
                   (SELECT 150000000000 // n FROM nn)
                     + (85 * COALESCE(c$i.contrib, 0)) // 100 AS rank
            FROM nodes n LEFT JOIN c$i ON c$i.id = n.id)"""
    }.mkString(",\n")
    s"""
      WITH $edgesCte,
      nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
      nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      r0 AS MATERIALIZED (SELECT id, (SELECT 1000000000000 // n FROM nn) AS rank FROM nodes),
      $rounds
      SELECT id, rank FROM r$iterations ORDER BY id"""
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // PageRank over the trading graph, 5 power-iteration rounds in
    // fixed-point integer arithmetic (bit-exact vs the unrolled oracle).
    Q(
      "gr1_pagerank",
      (s, d) => Graph.pageRankFixedPoint(tradeEdgesCached(s, d), iterations = 5)
        .orderBy("id"),
      Some(pageRankSql(5))),

    // ----------------------------------------------------------------
    // Degree distribution of the same graph: how many vertices have each
    // out-degree — the audit that catches hub blow-ups (a vertex with
    // degree 1e7 means the per-vertex join fan-out needs a cap) before
    // they melt a shuffle.
    Q(
      "gr2_degree_hist",
      (s, d) => Graph.outDegrees(tradeEdgesCached(s, d))
        .groupBy(col("outdeg").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree"),
      Some(s"""
        WITH $edgesCte,
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)
        SELECT outdeg AS degree, COUNT(*) AS n_nodes
        FROM deg GROUP BY 1 ORDER BY 1""")),

    // ----------------------------------------------------------------
    // Triangle enumeration over the nation-level trade projection:
    // nations A,B are adjacent when any customer of A bought from any
    // supplier of B. The projection (distinct nation pairs out of the
    // 4-table fact join) is the 100 TB-scale step and reduces to a
    // pre-aggregated distinct; enumeration then runs on the tiny
    // projected edge set via two equi-joins, each triangle exactly once
    // (canonical a < b < c orientation).
    Q(
      "gr3_nation_triangles",
      (s, d) => {
        val pe = Tables.customer(s, d)
          .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
          .filter(col("c_nationkey") =!= col("s_nationkey"))
          .select(
            least(col("c_nationkey"), col("s_nationkey")).as("a"),
            greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
          .distinct()
        val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
        Graph.triangles(pe)
          .join(broadcast(nat.select(col("n_nationkey").as("a"),
            col("n_name").as("n1"))), "a")
          .join(broadcast(nat.select(col("n_nationkey").as("b"),
            col("n_name").as("n2"))), "b")
          .join(broadcast(nat.select(col("n_nationkey").as("c"),
            col("n_name").as("n3"))), "c")
          .select("n1", "n2", "n3")
          .orderBy("n1", "n2", "n3")
      },
      Some("""
        WITH pe AS (
          SELECT DISTINCT LEAST(c.c_nationkey, s.s_nationkey) AS a,
                          GREATEST(c.c_nationkey, s.s_nationkey) AS b
          FROM customer c
          JOIN orders o ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          WHERE c.c_nationkey <> s.s_nationkey),
        tri AS (
          SELECT e1.a AS a, e1.b AS b, e2.b AS c
          FROM pe e1
          JOIN pe e2 ON e2.a = e1.b
          JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT na.n_name AS n1, nb.n_name AS n2, nc.n_name AS n3
        FROM tri
        JOIN nation na ON na.n_nationkey = tri.a
        JOIN nation nb ON nb.n_nationkey = tri.b
        JOIN nation nc ON nc.n_nationkey = tri.c
        ORDER BY 1, 2, 3""")),

    // ----------------------------------------------------------------
    // Single-source BFS (gr4): minimum hop count from customer c1 to
    // every vertex within 4 hops of the trading graph — the
    // reachability-radius audit (how far does influence propagate from
    // a seed domain?) and the first recursive-traversal query class in
    // the inventory. The oracle replays the identical bounded walk as a
    // DuckDB RECURSIVE CTE (union of all ≤4-hop walks, per-vertex
    // minimum) — exact integer hops, engine-independent.
    Q(
      "gr4_bfs_hops",
      (s, d) => Graph.bfsHops(tradeEdgesCached(s, d), source = "c1", maxHops = 4)
        .orderBy("id"),
      Some(s"""
        WITH RECURSIVE $edgesCte,
        walk(id, hop) AS (
          SELECT 'c1' AS id, 0 AS hop
          UNION
          SELECT e.dst, w.hop + 1
          FROM walk w JOIN edges e ON e.src = w.id
          WHERE w.hop < 4)
        SELECT id, CAST(MIN(hop) AS INTEGER) AS hop
        FROM walk GROUP BY id ORDER BY id""")),

    // ----------------------------------------------------------------
    // Label propagation (gr5): 3 synchronous rounds of
    // most-frequent-neighbor-label community detection with a
    // deterministic smallest-label tie-break — the domain-clustering
    // audit over the trading graph. The oracle unrolls the identical
    // recurrence as chained MATERIALIZED CTEs (count per (vertex,
    // label), argmax via row_number over (count DESC, label)), the same
    // trick as gr1/t24.
    Q(
      "gr5_label_prop",
      (s, d) => Graph.labelPropagation(tradeEdgesCached(s, d), rounds = 3)
        .orderBy("id"),
      Some(labelPropSql(3))),

    // ----------------------------------------------------------------
    // WEIGHTED PageRank (gr6): rank mass splits proportionally to trade
    // VOLUME (Σ quantity per customer–supplier pair) instead of
    // uniformly — the domain-authority measure where a 10⁶-interaction
    // edge pulls 10⁶× the rank of a casual one. Per-edge split runs in
    // DECIMAL(38,0) (rank·weight overflows a Long); the oracle unrolls
    // the identical recurrence with HUGEINT arithmetic — bit-exact as
    // gr1.
    Q(
      "gr6_weighted_pagerank",
      (s, d) => Graph.pageRankWeighted(weightedTradeEdges(s, d), iterations = 4)
        .orderBy("id"),
      Some(weightedPageRankSql(4))),

    // ----------------------------------------------------------------
    // Connected components of the STRONG-TIE trade graph (gr7): keep
    // only (customer, supplier) edges whose total traded quantity ≥ 90
    // — a sparse graph of durable relationships — and resolve its
    // transitive closure through the ONE shared components operator
    // ([[Graph.connectedComponents]], the same loop behind dedup
    // clusters d8/d13, incremental dedup d10, semantic clusters v2 and
    // entity resolution er1). Numeric node ids (customer 2k, supplier
    // 2k+1 — disjoint) because the loop's Σ-label convergence detection
    // sums them. The oracle is algorithm-independent: a recursive-CTE
    // reachability walk taking the per-node MIN label (er1's oracle
    // shape).
    Q(
      "gr7_trade_components",
      (s, d) => {
        val p = Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .agg(sum(col("l_quantity").cast("long")).as("w"))
          .filter(col("w") >= 90)
        val pairs = p.select((col("c") * 2).as("id_a"),
          (col("s") * 2 + 1).as("id_b"))
        val nodes = pairs.select(col("id_a").as("nid"))
          .union(pairs.select(col("id_b").as("nid"))).distinct()
        Graph.connectedComponents(nodes, "nid", pairs)
          .withColumnRenamed("cluster_rep", "component")
          .orderBy("nid")
      },
      Some("""
        WITH RECURSIVE p AS (
          SELECT o_custkey AS c, l_suppkey AS s,
                 SUM(CAST(l_quantity AS BIGINT)) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2),
        e0 AS (SELECT c * 2 AS id_a, s * 2 + 1 AS id_b FROM p WHERE w >= 90),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM e0
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM e0),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        walk AS (
          SELECT id, id AS label FROM nodes
          UNION
          SELECT e.src AS id, w.label FROM edges e JOIN walk w ON w.id = e.dst)
        SELECT id AS nid, MIN(label) AS component
        FROM walk GROUP BY id ORDER BY nid"""))
  )

  /** Weighted trade graph: one edge per (customer, supplier) pair with
    * weight = Σ traded quantity, symmetric both directions (so every
    * node has out-mass and no dangling handling is needed), built on
    * the SAME fingerprint-keyed scratch discipline as
    * [[tradeEdgesCached]]. */
  private def weightedTradeEdges(s: SparkSession, d: String): DataFrame = {
    def derive: DataFrame = {
      val p = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val cs = p.select(
        concat(lit("c"), col("c").cast("string")).as("src"),
        concat(lit("s"), col("s").cast("string")).as("dst"), col("w").as("weight"))
      val sc = p.select(
        concat(lit("s"), col("s").cast("string")).as("src"),
        concat(lit("c"), col("c").cast("string")).as("dst"), col("w").as("weight"))
      cs.unionByName(sc)
    }
    try {
      val (dir, _) = graft.storage.Scratch.state("wtrade_edges", d) { dir =>
        derive.write.mode("overwrite").parquet(s"$dir/edges")
        "ok"
      }
      graft.storage.FooterSchema.parquet(s, s"$dir/edges")
    } catch { case _: java.io.IOException => derive }
  }

  /** Unrolled WEIGHTED fixed-point PageRank — lockstep with
    * [[Graph.pageRankWeighted]] (scale 1e12, damping 85/100); the
    * per-edge split is 128-bit exact on both engines (Spark
    * DECIMAL(38,0), DuckDB HUGEINT). */
  private def weightedPageRankSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS MATERIALIZED (
            SELECT e.dst AS id,
                   CAST(SUM(CAST(r.rank AS HUGEINT) * e.w // ws.wsum) AS BIGINT) AS contrib
            FROM wedges e
            JOIN wsum ws ON ws.src = e.src
            JOIN r${i - 1} r ON r.id = e.src
            GROUP BY e.dst),
          r$i AS MATERIALIZED (
            SELECT n.id,
                   (SELECT 150000000000 // n FROM nn)
                     + (85 * COALESCE(c$i.contrib, 0)) // 100 AS rank
            FROM nodes n LEFT JOIN c$i ON c$i.id = n.id)"""
    }.mkString(",\n")
    s"""
      WITH wpairs AS (
        SELECT o_custkey AS c, l_suppkey AS s,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      wedges AS (
        SELECT 'c' || c AS src, 's' || s AS dst, w FROM wpairs
        UNION ALL
        SELECT 's' || s AS src, 'c' || c AS dst, w FROM wpairs),
      nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM wedges),
      nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      wsum AS MATERIALIZED (
        SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM wedges GROUP BY 1),
      r0 AS MATERIALIZED (
        SELECT id, (SELECT 1000000000000 // n FROM nn) AS rank FROM nodes),
      $rounds
      SELECT id, rank FROM r$iterations ORDER BY id"""
  }

  /** Unrolled synchronous label-propagation recurrence — in lockstep
    * with [[Graph.labelPropagation]] (most frequent in-neighbor label,
    * ties to the smallest label, no-in-edge vertices keep theirs).
    */
  private def labelPropSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""u$i AS MATERIALIZED (
            SELECT id, label FROM (
              SELECT e.dst AS id, l.label AS label,
                     row_number() OVER (PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, l.label) AS rn
              FROM edges e JOIN l${i - 1} l ON l.id = e.src
              GROUP BY e.dst, l.label) t
            WHERE rn = 1),
          l$i AS MATERIALIZED (
            SELECT p.id, COALESCE(u$i.label, p.label) AS label
            FROM l${i - 1} p LEFT JOIN u$i ON u$i.id = p.id)"""
    }.mkString(",\n")
    s"""
      WITH $edgesCte,
      nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
      l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
      $steps
      SELECT id, label FROM l$rounds ORDER BY id"""
  }
}
