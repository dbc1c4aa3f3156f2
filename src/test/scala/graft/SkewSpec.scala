package graft

import graft.operators.{Dedup, Similarity}
import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Skewed-fixture stress tests: a dup-heavy corpus (one hot cluster of
  * HOT identical documents — the classic case that melts naive LSH) run
  * through every capped candidate path, asserting the hot-bucket guards
  * keep candidate counts linear while correctness survives:
  *
  *   - pair-listing paths (lshCandidatePairs / simhashPairs /
  *     nearDupPairsBanded) collapse an oversized bucket to a hub star —
  *     exactly HOT-1 pairs, not HOT·(HOT-1)/2 — and downstream
  *     clustering still sees ONE connected component;
  *   - selfTopK sub-splits the oversized bucket so every member still
  *     receives its k near-identical neighbors;
  *   - small buckets (below the cap) keep exact all-pairs semantics in
  *     the same invocation.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private val HOT = 1000
  private val CAP = 50

  // one hot cluster (ids 0..HOT-1, identical text) + one small cluster
  // (ids 3000/3001, identical) + unrelated distinct docs (ids 2000..2019)
  private lazy val docs = {
    val hot = (0 until HOT).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val smallDup = Seq(
      (3000L, "spark engines shuffle partitions across the cluster nightly"),
      (3001L, "spark engines shuffle partitions across the cluster nightly"))
    val distinct = (0 until 20).map(i =>
      (2000L + i, s"unique document number $i talks about topic$i and detail$i only"))
    (hot ++ smallDup ++ distinct).toDF("doc_id", "text")
  }

  test("lshCandidatePairs: hot bucket emits a hub star, small buckets keep all-pairs") {
    val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text")
    val bands = Dedup.lshBands(sigs, "doc_id", 8, rowsPerBand = 2)
    val pairs = Dedup.lshCandidatePairs(bands, "doc_id", maxBucket = CAP)
      .as[(Long, Long)].collect()
    val hotPairs = pairs.filter { case (a, b) => a < HOT && b < HOT }
    // star, not quadratic: exactly HOT-1 pairs (hub 0 vs every member),
    // where the uncapped form would emit HOT*(HOT-1)/2 = 499500
    assert(hotPairs.length === HOT - 1)
    assert(hotPairs.forall(_._1 == 0L), "hot-cluster pairs all anchor at the hub (min id)")
    // the small identical cluster sits under the cap: exact all-pairs
    assert(pairs.contains((3000L, 3001L)))
    // overall linearity: nothing close to quadratic survives
    assert(pairs.length < docs.count() * 4)
  }

  test("capped candidates still cluster the hot set into one component") {
    val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text")
    val bands = Dedup.lshBands(sigs, "doc_id", 8, rowsPerBand = 2)
    val pairs = Dedup.lshCandidatePairs(bands, "doc_id", maxBucket = CAP)
    val clusters = Graph.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert((0 until HOT).forall(i => clusters(i.toLong) == 0L),
      "hub star keeps the whole hot cluster connected to rep 0")
    assert(clusters(3001L) === 3000L)
    assert(clusters(2005L) === 2005L, "distinct docs stay singletons")
  }

  test("simhashPairs: hot bucket emits a hub star at hamming 0") {
    val sigs = Dedup.simhashNarrow(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sigs, "doc_id", maxHamming = 0, maxBucket = CAP)
      .as[(Long, Long, Int)].collect()
    val hotPairs = pairs.filter { case (a, b, _) => a < HOT && b < HOT }
    assert(hotPairs.length === HOT - 1)
    assert(hotPairs.forall { case (a, _, h) => a == 0L && h == 0 })
    assert(pairs.exists { case (a, b, _) => a == 3000L && b == 3001L },
      "small identical cluster keeps exact all-pairs semantics")
    assert(pairs.length < docs.count() * CAP, "O(n·cap) candidate envelope")
  }

  private val dim = 8
  private lazy val vecs = {
    val v1 = Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val v2 = Array(0f, 1.0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val hot = (0 until HOT).map(i => (i.toLong, v1))
    val small = Seq((3000L, v2), (3001L, v2))
    (hot ++ small).toDF("vec_id", "embedding")
  }

  test("nearDupPairsBanded: hot bucket emits a verified hub star") {
    val pairs = Similarity.nearDupPairsBanded(
      vecs, "vec_id", "embedding", threshold = 0.9, dim = dim, maxBucket = CAP)
      .as[(Long, Long, Double)].collect()
    val hotPairs = pairs.filter { case (a, b, _) => a < HOT && b < HOT }
    assert(hotPairs.length === HOT - 1)
    assert(hotPairs.forall { case (a, _, s) => a == 0L && s == 1.0 })
    assert(pairs.exists { case (a, b, s) => a == 3000L && b == 3001L && s == 1.0 })
    // orthogonal clusters never pair above the threshold
    assert(!pairs.exists { case (a, b, _) => a < HOT != b < HOT })
  }

  test("selfTopK: sub-split keeps k near-identical neighbors per hot member") {
    val out = Similarity.selfTopK(
      vecs, "vec_id", "embedding", k = 3, dim = dim, maxBucket = CAP)
      .as[(Long, Long, Int, Double)].collect()
    val byQuery = out.groupBy(_._1)
    (0 until HOT).foreach { i =>
      val mine = byQuery.getOrElse(i.toLong, Array.empty)
      assert(mine.length === 3, s"hot member $i gets its full top-3")
      assert(mine.forall(_._4 === 1.0), s"hot member $i neighbors are near-identical")
      assert(mine.forall(_._2 < HOT), "neighbors come from the same hot cluster")
    }
    assert(out.length <= (HOT + 2) * 3, "output bounded by n·k")
    // the small cluster: each member's best neighbor is its twin
    assert(byQuery(3000L).minBy(_._3)._2 === 3001L)
    assert(byQuery(3001L).minBy(_._3)._2 === 3000L)
  }
}
