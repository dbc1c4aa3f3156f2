package graft.operators

import graft.spark.Loop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph operators over edge-list DataFrames.
  *
  * The reference has no graph tier, but a training-data pipeline at
  * 100 TB does: link graphs for domain-level quality propagation,
  * user–item bipartite graphs for popularity weighting, co-occurrence
  * graphs for near-dup cluster audits. Everything here is expressed as
  * joins + aggregations over an `(src, dst)` edge list — the shape that
  * scales: no adjacency lists in driver memory, no per-vertex RPC, just
  * Catalyst-planned shuffles keyed on vertex id.
  *
  * Determinism: PageRank is computed in FIXED-POINT integer arithmetic
  * (rank mass scaled to `scale` integer units, integer `div` for the
  * per-edge split, damping applied as `(num * x) div den`). Long sums
  * are exact and associative, so the result is bit-identical regardless
  * of partitioning — and an independent single-threaded engine unrolling
  * the same recurrence reproduces it exactly. Double-precision PageRank
  * cannot make that promise (partial-sum order changes the last ulps).
  */
object Graph {

  /** Fixed-point PageRank over a directed edge list.
    *
    * @param edges  DataFrame with string columns `src`, `dst`; parallel
    *               edges contribute multiply (pre-`distinct` if unwanted)
    * @param iterations  power-iteration rounds (fixed count — the
    *                    deterministic contract; convergence-threshold
    *                    stopping would couple the result to float noise)
    * @param scale  total rank mass in integer units (default 1e12: room
    *               for 1e9+ nodes before per-node rank underflows to 0
    *               while staying far from Long overflow under `85 * x`)
    * @param dampNum/dampDen  damping factor as an exact rational (85/100)
    * @return (id STRING, rank LONG) — ranks sum to ≈ scale (floor-division
    *         dust is lost, never created: safe under iteration)
    *
    * Scale shape: per round, ONE join of the node-sized rank frame into
    * the edge list (edges stay put — at 100 TB the edge list is the big
    * side and is never re-shuffled once co-partitioned on `src`) and ONE
    * hash aggregation keyed on `dst` with map-side partials. Lineage is
    * truncated per round (`localCheckpoint`) so the plan stays O(1) deep;
    * the loop runs under [[graft.spark.Loop.pinned]] because the rank
    * frame is node-sized, not edge-sized.
    */
  def pageRankFixedPoint(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampNum: Int = 85,
      dampDen: Int = 100): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must be a proper fraction, got $dampNum/$dampDen")
    val spark = edges.sparkSession
    val e = edges.persist() // read 4x below before edgesD caches
    // nodes cached hash-partitioned AND sorted on id at the loop width:
    // the per-round rejoin (nodes left-join contribs) then moves
    // nothing — without this the node frame re-shuffled every round
    val loopW = Loop.resolveWidth(spark, Loop.widthFor(edges))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .repartition(loopW, col("id")).sortWithinPartitions("id")
      .persist()
    val n = nodes.count() // setup runs at session width, not loop width
    require(n > 0, "pageRank over an empty edge list")
    // edge list decorated with out-degree once, up front, and stored
    // HASH-PARTITIONED AND SORTED on the per-round join key at exactly
    // the loop width (derived from the edge list's size estimate —
    // scale-adaptive, Loop.widthFor): each round's edge join then
    // exchanges and sorts only the node-sized rank frame; the edge
    // side is stationary, and nothing is broadcast per round
    // (Loop scaladoc — the old plan re-broadcast the edge list every
    // round because its parquet stats undersell the in-memory size).
    val edgesD = e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(loopW, col("src")).sortWithinPartitions("src")
      .persist()
    val result = Loop.pinned(spark, Some(loopW)) {
      val init = scale / n
      val base = (scale * (dampDen - dampNum) / dampDen) / n
      var ranks = nodes.withColumn("rank", lit(init))
      for (i <- 1 to iterations) {
        val contribs = edgesD
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), expr("rank div outdeg").as("contrib"))
          .groupBy("id")
          .agg(sum("contrib").as("c"))
        ranks = nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(s"($dampNum * coalesce(c, cast(0 as bigint))) div $dampDen"))
              .as("rank"))
          // lazy per-round checkpoint: the plan is cut each round (so
          // Catalyst never sees a growing tree) but nothing executes
          // until the LAST round's eager checkpoint pulls the whole
          // chain as ONE job — a fixed-iteration loop has no per-round
          // action to fuse with, so eager rounds were pure scheduling
          // serialization. The last round stays eager because the
          // persisted scaffolding (e/nodes/edgesD) is unpersisted right
          // after the loop and must not be recomputed per reference.
          .localCheckpoint(eager = i == iterations)
      }
      ranks
    }
    nodes.unpersist()
    edgesD.unpersist()
    e.unpersist()
    result
  }

  /** Out-degree per source vertex: (src, outdeg). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("outdeg"))

  /** WEIGHTED fixed-point PageRank: rank mass splits across out-edges
    * proportionally to an integer edge weight (trade volume, link
    * count) instead of uniformly — the authority measure a corpus
    * pipeline actually wants (a domain earning 10⁶ interactions should
    * pull more rank than one earning 1).
    *
    * Same deterministic contract and per-round shape as
    * [[pageRankFixedPoint]] (ONE node-sized join into the stationary
    * edge list + ONE map-side-combining hash agg per round, lineage
    * truncated). The per-edge split `(rank · w) div wsum` runs in
    * DECIMAL(38,0) — `rank ≤ scale = 1e12` times a 64-bit weight
    * overflows a Long, and the 38-digit decimal keeps the product
    * exact, so the result stays bit-identical to an independent
    * engine's 128-bit integer unrolling (the gr6 oracle uses HUGEINT).
    * Floor-division dust is lost, never created, exactly as in the
    * unweighted form.
    *
    * @param edges (src STRING, dst STRING, weight LONG >= 0); a source
    *              whose weights sum to 0 passes on no rank (its split is
    *              NULL, as the decimal form's division by zero was)
    */
  def pageRankWeighted(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampNum: Int = 85,
      dampDen: Int = 100): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must be a proper fraction, got $dampNum/$dampDen")
    val spark = edges.sparkSession
    val e = edges.persist()
    // nodes and edgesD co-partitioned at loop width, no per-round
    // broadcasts — see pageRankFixedPoint
    val loopW = Loop.resolveWidth(spark, Loop.widthFor(edges))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .repartition(loopW, col("id")).sortWithinPartitions("id")
      .persist()
    val n = nodes.count() // setup at session width
    require(n > 0, "pageRankWeighted over an empty edge list")
    val edgesD = e
      .join(e.groupBy("src").agg(sum("weight").as("wsum")), "src")
      .repartition(loopW, col("src")).sortWithinPartitions("src")
      .persist()
    val result = Loop.pinned(spark, Some(loopW)) {
      val init = scale / n
      val base = (scale * (dampDen - dampNum) / dampDen) / n
      var ranks = nodes.withColumn("rank", lit(init))
      for (i <- 1 to iterations) {
        val contribs = edgesD
          .join(ranks.withColumnRenamed("id", "src"), "src")
          // exact (rank · weight) div wsum via the codegen'd 128-bit
          // mul-div (graft.functions.MulDiv) — identical values to the
          // DECIMAL(38,0) form (MulDivSpec pins it across the overflow
          // boundary) without its per-edge decimal cast+multiply+divide,
          // which dominated each round's task time
          .select(col("dst").as("id"),
            graft.functions.MulDivFunctions.mulDiv(
              col("rank"), col("weight"), col("wsum")).as("contrib"))
          .groupBy("id")
          .agg(sum("contrib").as("c"))
        ranks = nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(s"($dampNum * coalesce(c, cast(0 as bigint))) div $dampDen"))
              .as("rank"))
          // lazy rounds + one eager tail — see pageRankFixedPoint
          .localCheckpoint(eager = i == iterations)
      }
      ranks
    }
    nodes.unpersist()
    edgesD.unpersist()
    e.unpersist()
    result
  }

  /** Minimum-hop BFS distances from `source`, capped at `maxHops`.
    *
    * @param edges   directed edge list (string `src`, `dst`)
    * @param source  start vertex id (hop 0; emitted even if isolated)
    * @param maxHops traversal depth cap — the deterministic contract and
    *                the termination bound (reachability radius audits
    *                rarely need more than a few hops)
    * @return (id STRING, hop INT): every vertex reachable within
    *         `maxHops`, with its exact minimum hop count
    *
    * Frontier expansion, one round per hop: join the (frontier-sized)
    * open set into the edge list, distinct the successors, anti-join
    * away everything already visited. At 100 TB the edge list is the
    * big side and stays put — each round shuffles only frontier- and
    * visited-sized frames keyed on vertex id, with lineage truncated
    * per round (`localCheckpoint`) so the plan depth is O(1), not
    * O(hops). The loop exits as soon as a frontier drains, so the cap
    * is an upper bound, not a fixed cost. Runs under [[Loop.pinned]]
    * (frontier frames are vertex-sized, not edge-sized).
    *
    * Determinism: hop counts are exact integers from a fixed recurrence
    * — bit-identical across partitionings, and reproducible by an
    * independent engine running the same bounded walk (the gr4 oracle
    * unions all ≤`maxHops` walks in a recursive CTE and takes the
    * per-vertex minimum, which is the same function).
    */
  def bfsHops(edges: DataFrame, source: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((source, 0)).toDF("id", "hop")
    var frontier = visited.select("id")
    var drained = false
    // the edge list is re-joined every round: materialize it once,
    // HASH-PARTITIONED AND SORTED on the join key at the loop width
    // (at cluster scale this is the already-persisted/bucketed edge
    // table) — each hop's frontier join then exchanges and sorts only
    // the frontier, never the edges, and nothing is re-broadcast per
    // hop (Loop scaladoc)
    val loopW = Loop.resolveWidth(spark, Loop.widthFor(edges))
    val e = edges.repartition(loopW, col("src")).sortWithinPartitions("src")
      .persist()
    Loop.pinned(spark, Some(loopW)) {
      for (h <- 1 to maxHops if !drained) {
        // lazy checkpoint + count(): ONE job materializes the round's
        // frontier AND answers the drain check (the count computes over
        // the checkpointed RDD, storing its blocks as a side effect) —
        // the eager-checkpoint + isEmpty + eager-visited-union shape
        // was three sequential jobs per hop for the same answer
        val next = e
          .join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .withColumn("hop", lit(h))
          .localCheckpoint(eager = false)
        if (next.count() == 0L) drained = true
        else {
          // lazy: both union arms are materialized checkpoints, so the
          // next round's anti-join (or the caller's action) computes
          // this union without touching `e` — safe across e.unpersist()
          visited = visited.unionByName(next).localCheckpoint(eager = false)
          frontier = next.select("id")
        }
      }
    }
    e.unpersist()
    visited
  }

  /** Synchronous label propagation (community detection), a fixed number
    * of rounds with a deterministic tie-break.
    *
    * Every vertex starts labeled with its own id; each round, a vertex
    * adopts the most frequent label among its in-neighbors, ties broken
    * by the smallest label (binary string order on both engines), and
    * vertices with no in-edges keep their label. The FIXED round count
    * and total tie-break make the result a pure function of the edge
    * list — bit-identical across partitionings and reproducible by an
    * independent engine unrolling the same recurrence (the gr5 oracle).
    * (Classic LPA breaks ties randomly; determinism is worth more to a
    * gated pipeline than the marginal community quality.)
    *
    * Scale shape, per round: one join of the node-sized label frame into
    * the edge list (edges stay put, as in PageRank), one hash
    * aggregation to (vertex, label) counts with map-side partials, and
    * one `min_by` reduction per vertex on the already-aggregated count
    * frame — shuffle rows bounded by distinct (vertex, neighbor-label)
    * pairs, never raw edges. Lineage truncated per round; runs under
    * [[Loop.pinned]].
    *
    * @return (id STRING, label STRING) — the community representative
    *         each vertex converged to after `rounds` rounds
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    // re-joined every round: materialize once, hash-partitioned and
    // sorted on the join key at the loop width — each round's edge
    // join then exchanges and sorts only the node-sized label frame,
    // never the edges, and nothing is re-broadcast per round
    // (Loop scaladoc; the old plan re-broadcast the edge list 3×)
    val loopW = Loop.resolveWidth(spark, Loop.widthFor(edges))
    val e = edges.repartition(loopW, col("src")).sortWithinPartitions("src")
      .persist()
    val result = Loop.pinned(spark, Some(loopW)) {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct().persist()
      var labels = nodes.withColumn("label", col("id"))
      for (r <- 1 to rounds) {
        val adopted = e
          .join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy("id")
          .agg(min_by(col("label"),
            struct((-col("c")).as("nc"), col("label"))).as("adopted"))
        labels = labels.withColumnRenamed("label", "prev")
          .join(adopted, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("adopted"), col("prev")).as("label"))
          // lazy rounds + one eager tail — see pageRankFixedPoint
          .localCheckpoint(eager = r == rounds)
      }
      nodes.unpersist()
      labels
    }
    e.unpersist()
    result
  }

  /** Connected components over an undirected pair list — THE shared
    * components operator: the dedup tier (exact/MinHash/SimHash/semantic
    * cluster queries d8/d13/d10/v2, the entity-resolution capstone er1)
    * and the graph tier (gr7) all resolve transitive closures through
    * this one loop. Min-label propagation with per-round pointer
    * jumping (path compression — O(log diameter) rounds), iterating
    * ONLY over edge endpoints; singletons rejoin at the end, so the
    * loop cost is O(dup-edge-endpoints), never corpus-sized. Ids must
    * be numeric (the Σ-label monotone-convergence detection sums them;
    * string-id communities are [[labelPropagation]]'s job).
    *
    * @param nodes  one row per node, column `idCol`
    * @param pairs  undirected edges as columns `id_a`, `id_b`
    * @return (idCol, cluster_rep) — the component minimum for every
    *         node, singletons labeled by themselves
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    // every reduce side in the loop is dup-edge-endpoint-sized, so the
    // loop runs under Loop.pinned (narrow shuffles, no AQE re-plan per
    // round, conf-default width — the loop frames are dup-edge-sized
    // by design, and join-derived pair pipelines have no usable size
    // estimate for widthFor); the corpus-sized singleton rejoin below
    // plans under the caller's conf because it executes after pinned()
    // restores it
    graft.spark.Loop.pinned(nodes.sparkSession) {
    // Lineage.truncate (not persist) on every iterated frame: persist
    // truncates EXECUTION but the logical plan still embeds the previous
    // round's plan twice (labels feeds both join sides), so plan size —
    // and Catalyst optimization time — doubles per round. Checkpointing
    // truncates the lineage itself: constant plan size per round. On a
    // real cluster set spark.graft.checkpoint.dir for reliable
    // checkpoints so a lost executor can't kill a long convergence run.
    // symmetrize in ONE pass over `pairs` (explode, not self-union): the
    // candidate pipeline feeding this is typically expensive and
    // unpersisted — a union would execute it twice before the checkpoint.
    // The checkpoint stores edges HASH-PARTITIONED AND SORTED on dst
    // (LogicalRDD preserves both), so every round's label join
    // exchanges and sorts only the endpoint-sized label frame — the
    // edge side of the loop is stationary.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .repartition(col("dst")).sortWithinPartitions("dst")
      .transform(graft.spark.Lineage.truncate)
    // iterate ONLY over edge endpoints: every other node is a
    // singleton that cannot change, and carrying it through each
    // round's join + checkpoint would cost O(corpus × rounds) instead
    // of O(dup-docs × rounds) — at 100 TB most docs are singletons.
    // Singletons rejoin at the end.
    // truncateLazy: the Σ-label aggregate right below materializes the
    // checkpoint — one action per round instead of checkpoint + sum
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_rep", col("id"))
      .transform(graft.spark.Lineage.truncateLazy)
    // min-propagation only ever LOWERS labels, so Σ label is strictly
    // monotone decreasing while anything changes — convergence detection
    // is one aggregate over the checkpointed label frame, not a
    // join-and-compare against the previous round
    var prevSum = labels.agg(coalesce(sum(col("cluster_rep")), lit(0L)))
      .head().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_rep")).as("neighbor_min"))
      // lazy checkpoint BEFORE the self-join below: its two sides key on
      // different columns (cluster_rep vs id), so no exchange is reused
      // and an un-cut `stepped` plan — including the edge join and the
      // neighbor-min aggregation above — would be computed twice per
      // round. The cut costs nothing extra: the round's convergence
      // aggregate materializes the blocks anyway.
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_rep"),
            coalesce(col("neighbor_min"), col("cluster_rep")))
            .as("cluster_rep"))
        .transform(graft.spark.Lineage.truncateLazy)
      // pointer jump (path compression): follow the rep's own label
      // once per round — labels are always node ids, so the lookup
      // hits — squaring the propagation distance: O(log diameter)
      // rounds instead of O(diameter). Labels still only ever
      // decrease, so the Σ-label convergence detection is unchanged.
      val updated = stepped.alias("a")
        .join(stepped.select(col("id").as("__rid"),
          col("cluster_rep").as("__rrep")).alias("b"),
          col("a.cluster_rep") === col("__rid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster_rep"),
            coalesce(col("__rrep"), col("a.cluster_rep")))
            .as("cluster_rep"))
        .transform(graft.spark.Lineage.truncateLazy)
      val curSum = updated.agg(coalesce(sum(col("cluster_rep")), lit(0L)))
        .head().getLong(0) // materializes the round's checkpoint
      labels = updated
      converged = curSum == prevSum
      prevSum = curSum
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"min-label propagation did not converge in $maxIter rounds — the " +
        "component diameter exceeds the budget; use connectedComponentsLogN " +
        "(alternating large-star/small-star, O(log n) rounds)")
    nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("cluster_rep", "__rep"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__rep"), col("id")).as("cluster_rep"))
    }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * O(log n)-round alternative to [[connectedComponents]]' min-propagation
    * for graphs with long chains (min-propagation needs O(diameter)
    * rounds). Each round is two gather-emit passes, each one shuffle:
    *
    *   - large-star: every node u links its LARGER neighbors to
    *     m(u) = min(Γ(u) ∪ u);
    *   - small-star: every node u links its smaller-or-equal neighbors
    *     (and itself) to m(u).
    *
    * Converges when the edge multiset stops changing (detected by the
    * (count, Σsrc, Σdst) signature — one aggregate over checkpointed
    * edges); at the fixpoint the graph is a union of stars centered on
    * component minima. Same output contract as [[connectedComponents]]:
    * (idCol, cluster_rep), singletons included — equality on random
    * graphs is property-tested.
    */
  def connectedComponentsLogN(nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 25): DataFrame =
    graft.spark.Loop.pinned(nodes.sparkSession) {
    def gatherEmit(edges: DataFrame, large: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // undirected gather in ONE narrow pass (explode, not self-union),
      // and the per-node min as a WINDOW over the adjacency instead of
      // a groupBy + rejoin: one shuffle per pass instead of two, and a
      // per-round plan half the size — the loop is planning-bound at
      // small edge counts (same lesson as the t24/d10 driver loops)
      val adj = edges.select(explode(array(
          struct(col("src").as("u"), col("dst").as("v")),
          struct(col("dst").as("u"), col("src").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
      val linked = adj.withColumn("m",
        least(min(col("v")).over(Window.partitionBy("u")), col("u")))
      val emitted =
        if (large) linked.filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
        // small-star emits up to two rows per adjacency row — as ONE
        // conditional explode, not a union of two selects over `linked`:
        // the union form embeds the window subtree twice in the plan
        // (different projections, no exchange reuse), paying the
        // adjacency shuffle+sort twice per pass
        else linked.select(explode(array(
            when(col("v") <= col("u"),
              struct(col("v").as("src"), col("m").as("dst"))),
            struct(col("u").as("src"), col("m").as("dst")))).as("__s"))
          .filter(col("__s").isNotNull)
          .select(col("__s.src").as("src"), col("__s.dst").as("dst"))
      emitted.filter(col("src") =!= col("dst")).distinct()
    }
    var edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(graft.spark.Lineage.truncateLazy) // signature() materializes
    def signature(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(sum(col("src")), lit(0L)),
        coalesce(sum(col("dst")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var sig = signature(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prev = edges
      edges = gatherEmit(gatherEmit(edges, large = true), large = false)
        .transform(graft.spark.Lineage.truncateLazy) // signature() materializes
      val next = signature(edges)
      // the cheap signature filters non-fixpoints; on a match, confirm
      // exactly (except is symmetric-difference on distinct edge sets) —
      // runs once, at convergence, not every round
      converged = next == sig &&
        edges.exceptAll(prev).isEmpty && prev.exceptAll(edges).isEmpty
      sig = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"large-star/small-star did not reach a fixpoint in $maxIter " +
        "rounds — labeling a non-fixpoint edge set would return wrong " +
        "clusters; raise maxIter")
    // stars: every node's label is its min neighbor (the center), or
    // itself for singletons
    val labels = edges.select(col("src").as("id"), col("dst").as("l"))
      .union(edges.select(col("dst").as("id"), col("src").as("l")))
      .groupBy("id").agg(min(col("l")).as("nmin"))
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        least(col("id"), coalesce(col("nmin"), col("id"))).as("cluster_rep"))
    }

  /** Triangle enumeration over an UNDIRECTED graph given as canonical
    * edges `(a < b)`: returns every (a, b, c) with a < b < c and all
    * three edges present.
    *
    * The classic two-join enumeration: wedges (a–b, b–c) closed by a
    * third equi-join probing (a, c). All joins are equi-joins on vertex
    * ids — no cross product. At scale the input to this should be a
    * PROJECTED graph (e.g. distinct entity pairs pre-aggregated out of
    * the fact table) — projection is where the 100 TB is spent;
    * enumeration runs on the much smaller distinct-edge set, and the
    * canonical `a < b < c` orientation means each triangle is produced
    * exactly once (no ×6 blowup, no post-dedup shuffle).
    */
  def triangles(canonicalEdges: DataFrame): DataFrame = {
    val e1 = canonicalEdges.select(col("a"), col("b"))
    val e2 = canonicalEdges.select(col("a").as("b"), col("b").as("c"))
    val e3 = canonicalEdges.select(col("a"), col("b").as("c"))
    e1.join(e2, "b").join(e3, Seq("a", "c")).select("a", "b", "c")
  }
}
