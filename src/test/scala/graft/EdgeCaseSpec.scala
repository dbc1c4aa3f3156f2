package graft

import graft.operators.{Dedup, Graph, KMeans, Prefix, Similarity, Upsert}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior across the operator library: empty frames,
  * singleton corpora, k > n. Every operator must either return the
  * correct empty/degenerate result or fail loudly — never hang, throw
  * obscurely, or return wrong shapes. (These are the first inputs a
  * real pipeline hits: day-one runs, filtered-to-nothing partitions.) */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String, Long)]
    .toDF("doc_id", "text", "n_chars")
  private def oneDoc = Seq((1L, "the quick brown fox jumps over the lazy dog", 43L))
    .toDF("doc_id", "text", "n_chars")

  test("dedup pipeline on an empty corpus yields empty everything") {
    val sh = Dedup.shingles(emptyDocs, "doc_id", "text", dedupe = false)
    assert(sh.count() == 0)
    val sigs = Dedup.minhashSignaturesNarrow(emptyDocs, "doc_id", "text", 8)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
    assert(pairs.count() == 0)
    val clusters = Graph.connectedComponents(
      emptyDocs.select("doc_id"), "doc_id", pairs)
    assert(clusters.count() == 0)
    assert(Dedup.keepCanonical(emptyDocs, "doc_id", clusters,
      Seq(col("n_chars").desc, col("doc_id"))).count() == 0)
  }

  test("dedup pipeline on a single doc yields one singleton cluster") {
    val sigs = Dedup.minhashSignaturesNarrow(oneDoc, "doc_id", "text", 8)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
    assert(pairs.count() == 0)
    val clusters = Graph.connectedComponents(oneDoc.select("doc_id"), "doc_id", pairs)
    val row = clusters.head()
    assert(clusters.count() == 1 && row.getLong(0) == 1L && row.getLong(1) == 1L)
    assert(Dedup.keepCanonical(oneDoc, "doc_id", clusters,
      Seq(col("n_chars").desc, col("doc_id"))).count() == 1)
  }

  test("similarity search over an empty corpus returns no neighbors") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.selfTopK(empty, "vec_id", "embedding", 5, 64).count() == 0)
    assert(Similarity.nearDupPairsBanded(empty, "vec_id", "embedding",
      0.4, 64).count() == 0)
  }

  test("k-means: k larger than the corpus degrades to n clusters; empty fails loudly") {
    val three = Seq(
      (1L, Array.fill(4)(1.0f)), (2L, Array.fill(4)(-1.0f)),
      (3L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val res = KMeans.train(three, "vec_id", "embedding", k = 10, iters = 2)
    assert(res.centroids.length == 3) // only 3 seeds exist
    assert(res.inertia.last <= res.inertia.head * (1 + 1e-9))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[Exception] {
      KMeans.train(empty, "vec_id", "embedding", k = 2, iters = 1)
    }
  }

  test("upsert with an empty source is the target; empty target is the source") {
    val t = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val s0 = t.limit(0)
    assert(Upsert.merge(t, s0, Seq("k")).orderBy("k").collect().toSeq ==
      t.orderBy("k").collect().toSeq)
    assert(Upsert.merge(s0, t, Seq("k")).orderBy("k").collect().toSeq ==
      t.orderBy("k").collect().toSeq)
  }

  test("global cumsum over an empty frame is empty, over one row is that row") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "x")
    assert(Prefix.globalCumsum(empty, Seq("id"), "x").count() == 0)
    val one = Seq((7L, 25L)).toDF("id", "x")
    val r = Prefix.globalCumsum(one, Seq("id"), "x").head()
    assert(r.getAs[Long]("cumsum") == 25L)
  }

  test("w11 distribution ranks obey their contracts per group") {
    val rows = SparkEntry.queries("w11_distribution_ranks")(
      spark, "/root/testdata/sf0.001").collect()
    val byGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    for ((_, g) <- byGroup) {
      // ntile balance: bucket sizes differ by at most 1
      val sizes = g.groupBy(_.getAs[Int]("decile")).values.map(_.length)
      assert(sizes.max - sizes.min <= 1)
      // percent_rank spans exactly [0, 1]; cume_dist ends at 1
      val pr = g.map(_.getAs[Double]("pct_rank"))
      assert(pr.min == 0.0 && pr.max == 1.0)
      assert(g.map(_.getAs[Double]("cum_dist")).max == 1.0)
    }
  }

  test("bloom over zero build rows rejects every probe") {
    val empty = Seq.empty[Long].toDF("k")
    val bf = empty.agg(graft.functions.BloomFunctions
      .bloomAgg(col("k"), 1 << 12, 4)).head().getAs[Array[Byte]](0)
    assert((0L until 100L).forall(k =>
      !graft.functions.BloomRuntime.contains(bf, k)))
  }

  test("product quantizer rejects impossible configurations loudly") {
    import graft.operators.ProductQuantizer
    val vecs = (1L to 8L).map(i => (i, Array.fill(8)(i.toFloat)))
      .toDF("id", "v")
    // dim must split evenly into subspaces
    intercept[IllegalArgumentException] {
      ProductQuantizer.train(vecs, "id", "v", dim = 8, m = 3, k = 4)
    }
    // fewer vectors than codewords cannot seed a codebook
    intercept[IllegalArgumentException] {
      ProductQuantizer.train(vecs, "id", "v", dim = 8, m = 2, k = 16)
    }
    // a legal tiny config trains and encodes
    val model = ProductQuantizer.train(vecs, "id", "v", dim = 8, m = 2,
      k = 4, iters = 1)
    val codes = vecs.select(
      ProductQuantizer.encodeCol(col("v"), model).as("c")).head()
      .getSeq[Int](0)
    assert(codes.length === 2 && codes.forall(c => c >= 0 && c < 4))
  }

  test("nearDupPairs refuses to go quadratic above maxExact") {
    val vecs = (1L to 20L).map(i => (i, Array(i.toFloat, 1f)))
      .toDF("id", "v")
    // under the cap: runs
    assert(Similarity.nearDupPairs(vecs, "id", "v", 0.999).count() >= 0)
    // over the cap: loud failure naming the scale paths
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(vecs, "id", "v", 0.9, maxExact = 10).count()
    }
    assert(e.getMessage.contains("nearDupPairsBanded"))
  }

  test("IVF+PQ persisted-index edges: empty query set, missing model dir") {
    import graft.operators.IvfPq
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(j => (i * 8 + j).toFloat)))
      .toDF("vec_id", "v")
    val model = IvfPq.train(vecs, "vec_id", "v", dim = 8,
      nLists = 2, coarseIters = 1, m = 2, k = 4, pqIters = 1)
    val idx = IvfPq.index(vecs, "vec_id", "v", model, withNorm = true)
    // empty query set: both search paths return empty, no failure
    val none = vecs.filter(col("vec_id") < 0)
    assert(IvfPq.searchIndex(none, idx, "vec_id", "v", model, 3, 2)
      .count() === 0L)
    assert(IvfPq.searchIndexAdc(none, idx, "vec_id", "v", model, 3, 2)
      .count() === 0L)
    // loading a model from a dir that was never written fails loudly
    // (a torn scratch build must rebuild, not half-load)
    intercept[Exception] {
      IvfPq.load(spark, "/tmp/graft-no-such-ivfpq-model-dir")
    }
  }

  test("bfs/lpa reject degenerate round counts loudly") {
    import graft.operators.Graph
    val e = Seq("a" -> "b").toDF("src", "dst")
    intercept[IllegalArgumentException] { Graph.bfsHops(e, "a", 0) }
    intercept[IllegalArgumentException] { Graph.labelPropagation(e, 0) }
  }

  test("pareto frontier output is mutually non-dominated and dominates the rest") {
    val q = SparkEntry.queries("a17_pareto_frontier")(
      spark, "/root/testdata/sf0.001")
    val front = q.select("p_size", "p_retailprice")
      .as[(Int, Double)].collect()
    assert(front.nonEmpty)
    // no frontier point dominates another (strict in one dim, weak in both)
    for (a <- front; b <- front if a != b)
      assert(!(a._1 >= b._1 && a._2 <= b._2 && (a._1 > b._1 || a._2 < b._2)),
        s"$a dominates $b inside the frontier")
    // every non-frontier part is dominated by some frontier point
    val all = Tables.part(spark, "/root/testdata/sf0.001")
      .select(col("p_size"), col("p_retailprice"))
      .as[(Int, Double)].collect()
    val fs = front.toSet
    for (p <- all if !fs.contains(p))
      assert(front.exists(f => f._1 >= p._1 && f._2 <= p._2 &&
        (f._1 > p._1 || f._2 < p._2)), s"$p escaped the frontier")
  }

  test("time-series primitives on degenerate event frames") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // EWMA on an empty frame: empty out, schema intact
    val e = graft.operators.TimeSeriesOps.withBoundedEwma(empty)
    assert(e.count() == 0 && e.columns.contains("ewma"))
    // single event: ewma == value exactly
    val one = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 3.25)),
      schema)
    val r = graft.operators.TimeSeriesOps.withBoundedEwma(one).head()
    assert(r.getAs[Double]("ewma") == 3.25)
  }

  test("changeFeed of identical frames is empty; of disjoint frames is all inserts") {
    import spark.implicits._
    val a = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    assert(graft.operators.Upsert.changeFeed(a, a, Seq("id")).count() == 0)
    val b = Seq((3L, 3.0)).toDF("id", "v")
    val feed = graft.operators.Upsert.changeFeed(a, b, Seq("id")).collect()
    assert(feed.length == 1 && feed(0).getString(1) == "insert")
  }

  test("skipping index on a single-file table still answers correctly") {
    val (root) = java.nio.file.Files.createTempDirectory("graft-skip-edge").toString
    val cat = new graft.storage.ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Tables.orders(spark, "/root/testdata/sf0.001").coalesce(1))
    val sp = java.nio.file.Paths.get(root, "t-stats.bin")
    val files = cat.dataFilesAbs("t", cat.currentVersion("t"))
    graft.storage.SkippingIndex.writeAt(spark, sp, files, Seq("o_orderkey"))
    val cand = graft.storage.SkippingIndex.candidateFilesAt(sp, files,
      Seq(("o_orderkey", 5.0, 10.0)))
    val out = graft.storage.FooterSchema.parquet(spark, cand: _*)
      .filter(col("o_orderkey") >= 5.0 && col("o_orderkey") <= 10.0)
    assert(out.count() ==
      Tables.orders(spark, "/root/testdata/sf0.001")
        .filter(col("o_orderkey").between(5, 10)).count())
  }
}
