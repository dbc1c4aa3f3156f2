package graft.queries

import graft.Tables
import graft.operators.{Dedup, Similarity}
import graft.operators.Graph
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding similarity pack over the `embeddings` table
  * (`array<float>`, 64-dim unit vectors) — SURVEY.md §7.4 extension
  * surface. Dot products are double left-folds in element order on both
  * engines; similarities are rounded to 6 dp *before* ranking so the
  * rank order itself is engine-independent.
  */
object VectorQueries {
  private val dim = 64

  /** The shared v14/v15 production index: trained + written ONCE into
    * scratch parquet (model tables + index partitioned BY list_id, norm
    * column included for ADC), keyed on the input dir's CONTENT
    * fingerprint with a marker written last — read, never rebuilt,
    * after. The steady-state cost of both queries is search alone. */
  private[graft] def persistedIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      d: String): (graft.operators.IvfPq.Model, org.apache.spark.sql.DataFrame) = {
    import graft.operators.IvfPq
    val emb = graft.Tables.embeddings(s, d)
    val (dir, _) = graft.storage.Scratch.state("ivfpq3", d) { dir =>
      val model = IvfPq.train(emb, "vec_id", "embedding", dim = dim,
        nLists = 16, coarseIters = 2, m = 8, k = 64, pqIters = 3)
      IvfPq.save(model, s, dir)
      IvfPq.index(emb, "vec_id", "embedding", model, withNorm = true,
        metaCols = Seq("label"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/index")
      "ok"
    }
    (IvfPq.load(s, dir), graft.storage.FooterSchema.parquet(s, s"$dir/index"))
  }

  /** v18's incrementally-MAINTAINED index: the corpus minus a held-out
    * batch is indexed and written first, then the batch is encoded with
    * the same FROZEN model and appended (`mode("append")` into the
    * list_id partition dirs — a map-side-only job over the new rows;
    * PQ encoding is row-local, so no retrain, no touch of existing
    * files). Build is fingerprint-keyed + marker-last like the full
    * index; steady state reads only. */
  private def incrementalIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      d: String, model: graft.operators.IvfPq.Model): org.apache.spark.sql.DataFrame = {
    import graft.operators.IvfPq
    val emb = graft.Tables.embeddings(s, d)
    val (dir, _) = graft.storage.Scratch.state("ivfpq_incr", d) { dir =>
      val isBatch = col("vec_id") % 7 === 0
      IvfPq.index(emb.filter(!isBatch), "vec_id", "embedding", model,
        withNorm = true, metaCols = Seq("label"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/index")
      IvfPq.index(emb.filter(isBatch), "vec_id", "embedding", model,
        withNorm = true, metaCols = Seq("label"))
        .write.mode("append").partitionBy("list_id")
        .parquet(s"$dir/index")
      "ok"
    }
    graft.storage.FooterSchema.parquet(s, s"$dir/index")
  }

  /** The same md5-derived ±1 hyperplane weights as
    * [[graft.operators.Similarity]]'s planeSign, as a DuckDB list
    * literal — the LSH index is deterministic, so the oracle can rebuild
    * it bit-for-bit. */
  private def planeWeightsSql(plane: Int): String = {
    val w = (0 until dim).map { i =>
      val bit = Integer.parseInt(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$plane|$i")
          .substring(0, 1), 16) % 2
      if (bit == 1) "1.0" else "-1.0"
    }
    s"[${w.mkString(", ")}]"
  }

  /** Bucket id = Σ_p (sign(⟨v, w_(p+offset)⟩) ? 2^p : 0), identical fold
    * order to the Spark side (double accumulation, element order). */
  private def bucketSql(v: String, nPlanes: Int, offset: Int = 0): String =
    (0 until nPlanes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> CAST($v[i] AS DOUBLE) * (${planeWeightsSql(p + offset)})[i])) >= 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSql(a: String, b: String) =
    s"round(${dotSql(a, b)} / sqrt(${dotSql(a, a)}) / sqrt(${dotSql(b, b)}), 6)"

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // Brute-force cosine top-k: the exact ANN baseline. Query set is
    // broadcast; corpus scanned once; per-query top-k via partitioned
    // window.
    Q(
      "v1_cosine_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        p AS (
          SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS sim
          FROM c, q WHERE neighbor_id != query_id)
        SELECT query_id, neighbor_id, rank, sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ----------------------------------------------------------------
    // Embedding near-duplicate pairs: all (a<b) with cosine >= 0.4.
    // Exact quadratic form — the LSH-bucketed variant (v3) is the path
    // that survives scale-up.
    Q(
      "v2_embedding_neardup",
      (s, d) =>
        // explicit cap: this query IS the exact oracle baseline, sized
        // for gate-scale corpora (sf<=0.3); past the cap it fails loudly
        // toward the banded path rather than silently going O(n^2)
        Similarity.nearDupPairs(
          Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.4,
          maxExact = 20000)
          .orderBy("id_a", "id_b"),
      Some(s"""
        WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
        b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings),
        p AS (
          SELECT id_a, id_b, ${cosSql("va", "vb")} AS sim
          FROM a, b WHERE id_a < id_b)
        SELECT id_a, id_b, sim FROM p
        WHERE sim >= 0.4
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // Per-label centroids in long format (label, pos, mean): exact
    // decimal mean per dimension — the "average embedding" building
    // block for IVF coarse quantization.
    Q(
      "v3_label_centroids",
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          // Plain double sum + round(9): decimal accumulation is tie-prone
          // here (binary float expansions land exactly on .5 decimal
          // boundaries and engines break ties differently), while the
          // cross-engine ulp noise of a double sum is ~1e-15 — six orders
          // below the rounding step.
          .agg(round(sum(col("x").cast("double")) / count(lit(1)), 9).as("mean_x"))
          .orderBy("label", "pos"),
      Some(s"""
        SELECT label, i - 1 AS pos,
               round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 9) AS mean_x
        FROM embeddings, UNNEST(range(1, ${dim + 1})) AS u(i)
        GROUP BY label, i
        ORDER BY label, pos""")),

    // ----------------------------------------------------------------
    // LSH-bucketed approximate top-k (random-hyperplane signs derived
    // from md5 — deterministic, no driver randomness). Because the
    // index is deterministic, the oracle rebuilds the identical buckets
    // from the same ±1 weight literals and checks the approximate
    // result *exactly*; recall vs v1 is separately asserted in
    // SimilaritySpec.
    Q(
      "v4_lsh_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.lshTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
          k = 5, dim = dim, nPlanes = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                          ${bucketSql("embedding", 4)} AS bucket
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                     ${bucketSql("embedding", 4)} AS bucket
              FROM embeddings),
        p AS (
          SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS sim
          FROM c JOIN q USING (bucket)
          WHERE neighbor_id != query_id)
        SELECT query_id, neighbor_id, rank, sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ----------------------------------------------------------------
    // IVF approximate top-k: label partitions as inverted lists, exact
    // per-dimension centroid means (round 9 → float, so both engines
    // materialize identical centroids), queries probe the 3 nearest
    // lists, exact cosine inside those lists only. Deterministic end to
    // end => exact oracle.
    Q(
      "v5_ivf_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.ivfTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
          labelCol = "label", k = 5, nProbe = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH m AS (
          SELECT label, i AS pos,
                 round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 9) AS mx
          FROM embeddings, UNNEST(range(1, ${dim + 1})) AS u(i)
          GROUP BY label, i),
        cent AS (
          SELECT label,
                 list_transform(list(mx ORDER BY pos), x -> CAST(x AS FLOAT)) AS cv
          FROM m GROUP BY label),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 10),
        pc AS (
          SELECT query_id, label, qv, ${cosSql("qv", "cv")} AS csim
          FROM q, cent),
        probes AS (
          SELECT query_id, label, qv
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY csim DESC, label) AS pr FROM pc)
          WHERE pr <= 3),
        p AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 ${cosSql("qv", "e.embedding")} AS sim
          FROM probes JOIN embeddings e USING (label)
          WHERE e.vec_id != query_id)
        SELECT query_id, neighbor_id, rank, sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ----------------------------------------------------------------
    // Banded-LSH near-dup pairs — v2's semantics without the crossJoin:
    // 4 bands × 4 hyperplane sign bits; candidates equi-join on
    // (band, bucket), exact cosine verifies. Deterministic md5 planes →
    // the oracle rebuilds identical buckets and checks the approximate
    // result exactly; recall vs v2 is asserted in DedupSimilaritySpec.
    Q(
      "v6_neardup_lsh",
      (s, d) =>
        Similarity.nearDupPairsBanded(
          Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, dim = dim)
          .orderBy("id_a", "id_b"),
      Some(s"""
        WITH bk AS (
          ${(0 until 4).map(bd =>
            s"SELECT vec_id, $bd AS band, ${bucketSql("embedding", 4, bd * 4)} AS bucket FROM embeddings")
            .mkString("\n          UNION ALL\n          ")}),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        p AS (
          SELECT id_a, id_b, ${cosSql("ea.embedding", "eb.embedding")} AS sim
          FROM cand
          JOIN embeddings ea ON ea.vec_id = id_a
          JOIN embeddings eb ON eb.vec_id = id_b)
        SELECT id_a, id_b, sim FROM p
        WHERE sim >= 0.4
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // Semantic dedup (SemDeDup, Abbas et al. 2023): near-duplicate
    // detection in EMBEDDING space — catches paraphrases and
    // translations that n-gram dedup misses — composed end-to-end from
    // the existing machinery: v6's banded hyperplane candidates +
    // exact cosine verify, d8's connected components over the verified
    // pairs, d9's canonical rewrite of the documents table (ids are
    // shared between documents and embeddings). Every stage is an
    // equi-join or hash aggregate; the oracle replays the whole
    // pipeline with a recursive CTE.
    Q(
      "d11_semantic_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // persisted: the edge union inside connectedComponents reads the
        // pair frame twice before its checkpoint
        val pairs = Similarity.nearDupPairsBanded(
          Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, dim = dim)
          .select("id_a", "id_b")
          .persist()
        val clusters = Graph.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs)
        Dedup.keepCanonical(docs, "doc_id", clusters,
          Seq(col("n_chars").desc, col("doc_id")))
          .select("doc_id", "cluster_rep", "n_chars", "cluster_size")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE bk AS (
          ${(0 until 4).map(bd =>
            s"SELECT vec_id, $bd AS band, ${bucketSql("embedding", 4, bd * 4)} AS bucket FROM embeddings")
            .mkString("\n          UNION ALL\n          ")}),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        verified AS (
          SELECT id_a, id_b
          FROM cand
          JOIN embeddings ea ON ea.vec_id = id_a
          JOIN embeddings eb ON eb.vec_id = id_b
          WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.4),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified),
        walk AS (
          SELECT doc_id AS id, doc_id AS label FROM documents
          UNION
          SELECT e.src AS id, w.label FROM edges e JOIN walk w ON w.id = e.dst),
        cl AS (
          SELECT id AS doc_id, MIN(label) AS cluster_rep
          FROM walk GROUP BY id),
        ranked AS (
          SELECT cl.doc_id, cl.cluster_rep, dd.n_chars,
                 ROW_NUMBER() OVER (PARTITION BY cl.cluster_rep
                   ORDER BY dd.n_chars DESC, cl.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cl.cluster_rep) AS cluster_size
          FROM cl JOIN documents dd ON dd.doc_id = cl.doc_id)
        SELECT doc_id, cluster_rep, n_chars, cluster_size
        FROM ranked WHERE rn = 1
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Int8 vector quantization: per-vector absmax scale (rounded to 9dp
    // so both engines divide by the identical double) and symmetric
    // round-to-nearest int8 codes — the 4× storage/bandwidth reduction
    // step before an int8 ANN index. Pure map-side column work. The
    // codes ship as a CSV string (the gate's row hash cannot sort raw
    // arrays), and the divide is guarded against all-zero vectors
    // (scale = 0 → NaN/div-by-zero skew between engines).
    Q(
      "v7_quantize_int8",
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                    (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))""")
              .as("scale_raw"))
          .select(col("vec_id"), round(col("scale_raw"), 9).as("scale"),
            col("embedding"))
          .select(col("vec_id"), col("scale"),
            expr("""array_join(transform(embedding,
                    x -> CAST(CAST(round(CAST(x AS DOUBLE)
                           / greatest(scale, 1e-9) * 127.0, 0) AS INT)
                         AS STRING)), ',')""")
              .as("q_csv"))
          .orderBy("vec_id"),
      Some("""
        WITH s1 AS (
          SELECT vec_id, embedding,
                 round(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 9) AS scale
          FROM embeddings)
        SELECT vec_id, scale,
               array_to_string(list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE)
                        / greatest(scale, 1e-9) * 127.0, 0) AS INT)), ',')
                 AS q_csv
        FROM s1
        ORDER BY vec_id"""))
  ,

    // ----------------------------------------------------------------
    // Quantized ANN top-k: v7's int8 codes searched directly — integer
    // dot products (exact: |q|≤127, 64 dims, far inside long range)
    // descaled by the two absmax factors. The int8 index is 4× smaller
    // to scan; ranking stays deterministic because the integer dot is
    // exact and the descale is one double multiply chain both engines
    // share. The fold is the codegen'd DotProductInt expression — the
    // same treatment DotProductFloat gives the float scans.
    Q(
      "v8_int8_topk",
      (s, d) => {
        val quant = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                    (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))""")
              .as("scale_raw"))
          .select(col("vec_id"), round(col("scale_raw"), 9).as("scale"),
            col("embedding"))
          .select(col("vec_id"), col("scale"),
            expr("""transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE)
                           / greatest(scale, 1e-9) * 127.0, 0) AS INT))""")
              .as("q"))
        val queries = quant.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
            col("q").as("qq"))
        val corpus = quant
          .select(col("vec_id").as("neighbor_id"), col("scale").as("cscale"),
            col("q").as("cq"))
        corpus.crossJoin(broadcast(queries))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("dot_i",
            graft.functions.VectorExpressions.dotI(col("qq"), col("cq")))
          .withColumn("sim_q", round(
            col("dot_i").cast("double") * col("qscale") * col("cscale")
              / 16129.0, 6))
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("sim_q").desc, col("neighbor_id"))))
          .filter(col("rank") <= 5)
          .select("query_id", "neighbor_id", "rank", "sim_q")
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH s1 AS (
          SELECT vec_id, embedding,
                 round(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 9) AS scale
          FROM embeddings),
        qt AS (
          SELECT vec_id, scale,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE)
                          / greatest(scale, 1e-9) * 127.0, 0) AS INT))
                   AS q
          FROM s1),
        p AS (
          SELECT qy.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(CAST(list_sum(list_transform(range(1, ${dim + 1}),
                     i -> c.q[i] * qy.q[i])) AS DOUBLE)
                   * qy.scale * c.scale / 16129.0, 6) AS sim_q
          FROM qt c, qt qy
          WHERE qy.vec_id < 10 AND c.vec_id != qy.vec_id)
        SELECT query_id, neighbor_id, rank, sim_q
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim_q DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ----------------------------------------------------------------
    // Corpus×corpus self-top-k: the full-kNN-graph shape where the
    // query set IS the corpus, so v1/v4/v5's broadcast-the-queries
    // contract can't hold. Banded-LSH directed candidates (v6's
    // machinery) + exact cosine + per-query rank window — equi-joins
    // and hash aggregates only, nothing broadcast, nothing quadratic.
    // Deterministic md5 planes → the oracle rebuilds identical buckets
    // and checks the approximate result exactly.
    Q(
      "v9_self_topk",
      (s, d) =>
        Similarity.selfTopK(
          Tables.embeddings(s, d), "vec_id", "embedding", k = 5, dim = dim)
          .orderBy("query_id", "rank"),
      Some(selfTopKOracle)),

    // ----------------------------------------------------------------
    // v9's bounded sibling — the SAME candidates and the SAME total
    // order, but the final rank window (which sorts every candidate of
    // every query) replaced by the k-bounded heap aggregate
    // (graft.functions.BoundedTopK): the partial aggregate keeps ≤k
    // entries per query per partition, the shuffle carries O(k) rows
    // per query, and no sort appears anywhere in the plan (pinned in
    // PlanSpec). Output is identical by construction, so v9's oracle
    // gates it verbatim — the 100 TB form of the full-kNN graph.
    Q(
      "v10_self_topk_bounded",
      (s, d) =>
        Similarity.selfTopK(
          Tables.embeddings(s, d), "vec_id", "embedding", k = 5, dim = dim,
          bounded = true)
          .orderBy("query_id", "rank"),
      Some(selfTopKOracle)),

    // ----------------------------------------------------------------
    // Johnson–Lindenstrauss random projection (Achlioptas ±1 form):
    // 64 → 16 dims as a narrow codegen'd scan — the 4× index-shrink
    // step before ANN at scale (distances preserved to O(1/√16)). The
    // md5-derived planes are the LSH bucketer's own family, so the
    // oracle rebuilds them bit-for-bit; each projection is rounded to
    // 6 dp so both engines emit the identical double. The
    // distance-preservation claim (and its honest limit — top-k order
    // does NOT survive on near-uniform vectors) is pinned in
    // RecallSpec.
    Q(
      "v11_random_projection",
      (s, d) =>
        Similarity.randomProject(
          Tables.embeddings(s, d), "vec_id", "embedding", dim = dim,
          outDim = 16)
          .orderBy("vec_id"),
      Some {
        val cols = (0 until 16).map { p =>
          s"""round(list_sum(list_transform(range(1, ${dim + 1}),
              i -> CAST(embedding[i] AS DOUBLE) * (${planeWeightsSql(p)})[i])), 6)
              AS p$p"""
        }.mkString(",\n               ")
        s"""
        SELECT vec_id,
               $cols
        FROM embeddings
        ORDER BY vec_id"""
      }),

    // ----------------------------------------------------------------
    // Distributed k-means training (operators/KMeans): the trained
    // coarse quantizer under an IVF index and SemDeDup's clustering
    // stage. Assignment is a narrow codegen'd argmin scan (centroids
    // ride as a k·dim reference object); the update is one hash-agg
    // shuffle per iteration with decimal (order-independent) sums, so
    // the whole trajectory is bit-deterministic under any partitioning.
    // Iteration internals are engine-specific (a14's situation), so
    // the gated frame is the Lloyd INVARIANT — per-step inertia is
    // non-increasing — which DuckDB predicts as an all-ones frame; a
    // broken update or a nondeterministic sum flips a row. The real
    // trajectory and the recall of IVF-over-trained-centroids are
    // pinned in KMeansSpec.
    // ----------------------------------------------------------------
    // Product quantization (operators/ProductQuantizer): the memory-
    // bound ANN scale path — 64 floats compress to 8 codes; training is
    // ONE joint decimal-deterministic hash-agg per Lloyd round across
    // all subspaces; encode/reconstruct are codegen'd map-side columns.
    // Codebook internals are engine-specific (a14's situation), so the
    // gated frame is a recall VERDICT: PQ top-10 (asymmetric — exact
    // queries vs reconstructed corpus) retains ≥ 0.2 of the exact
    // top-10 per query, which DuckDB predicts as an all-ones frame.
    // The whole trajectory is bit-deterministic, so the bound is a
    // regression pin, not a statistical hope. Absolute recall is
    // geometry-limited on these near-uniform synthetic vectors (same
    // honest caveat as v11's JL projection). The 0.2 floor IS the
    // measured per-geometry minimum (round 10; RecallSpec pins v12's
    // per-query bound and v14/v15's identity with v13):
    // per-query recalls across sf0.001/0.01/0.1 are v12
    // {0.3,0.3,0.2}-min per sf and v13/v14/v15 {0.2,0.2,0.2} — the
    // gate sits exactly on the observed floor, zero slack below it.
    Q(
      "v12_pq_verdict",
      (s, d) => {
        import graft.operators.ProductQuantizer
        val emb = Tables.embeddings(s, d)
        val model = ProductQuantizer.train(emb, "vec_id", "embedding",
          dim = dim, m = 8, k = 64, iters = 3)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = ProductQuantizer.topK(queries, emb, "vec_id",
          "embedding", model, k)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.2, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // IVF + PQ composed (operators/IvfPq): the production ANN index —
    // a trained coarse quantizer routes vectors to inverted lists and a
    // product quantizer encodes the RESIDUAL (Jégou et al. 2011 §IV,
    // IVFADC). v5 proves IVF, v12 proves PQ; this is the composition a
    // 100 TB corpus actually serves: per-row index payload is one int
    // list id + 8 codes, queries probe 8 of 16 lists, and the index
    // side never shuffles (PlanSpec pins the plan). Trajectory is
    // bit-deterministic (md5 seeds, decimal sums), so the gated frame
    // is the same recall-verdict shape as v12: per-query recall@10 vs
    // the exact top-10 stays ≥ 0.2 (measured 0.2–0.4 per query across
    // sf0.001–0.1; RecallSpec pins the full curve and the ≥-v12
    // residual payoff at full probe width). The model comes from the
    // shared fingerprint-keyed build (same hyperparameters, and training
    // is bit-deterministic + parquet float round-trip is exact, so it
    // EQUALS the inline retrain — RecallSpec pins the round-trip);
    // only the INDEX path here stays inline, which is what v13 gates.
    Q(
      "v13_ivfpq_topk",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, _) = persistedIvfPqIndex(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = IvfPq.topK(queries, emb, "vec_id", "embedding",
          model, k, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.2, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // The PERSISTED IVF+PQ index — v13's steady state. A production
    // index is written ONCE (model parquet + index partitioned BY
    // list_id, scratch-keyed on the input's content fingerprint,
    // marker-last) and searched many times; this query measures exactly
    // that: load the model, search the persisted index. searchIndex
    // collects the probed list ids (≤ nQueries·nProbe, model-bounded)
    // into a literal isin filter, so the partitioned index scan is
    // PARTITION-PRUNED — at 100 TB with thousands of lists, 50 queries
    // read only the probed directories (PlanSpec pins the pruning; the
    // float round trip through parquet is exact, so results are
    // bit-identical to v13's inline index — RecallSpec pins that too).
    Q(
      "v14_ivfpq_persisted",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, idx) = persistedIvfPqIndex(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = IvfPq.searchIndex(queries, idx, "vec_id", "embedding",
          model, k, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.2, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // ADC scoring over the same persisted index — how a 100 TB PQ scan
    // actually runs (Jégou §III.B): per query, precompute the m×k table
    // of query·codeword dots (model-sized, broadcast); per candidate,
    // sim = (coarse_dot + Σ table lookups) / norms — m=8 codegen'd
    // array lookups (functions.AdcLookupSum), zero reconstruction in
    // the hot loop. The index carries each candidate's reconstructed
    // norm (computed once at build). Same verdict shape; RecallSpec
    // pins ADC recall == reconstruct-path recall.
    Q(
      "v15_ivfpq_adc",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, idx) = persistedIvfPqIndex(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = IvfPq.searchIndexAdc(queries, idx, "vec_id",
          "embedding", model, k, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.2, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // Hybrid (filtered) ANN: top-k under a metadata predicate — "most
    // similar docs among labels 0–4". The index carries the
    // filterable attribute (metaCols at build), so the predicate is a
    // plain Filter over the index frame that Catalyst pushes to the
    // parquet scan (PushedFilters) UNDER the list_id partition pruning
    // — data skipping in both dimensions, no corpus semi-join. Since
    // round 8 the filtered path is also RE-RANKED (IVFADC+R over the
    // filtered index — the production default read path) and
    // OVER-PROBES (nProbe 8 → 12) and OVER-REFINES (refine 3 → 20): a
    // selective predicate empties part of each probed list, so a
    // filtered search must widen both its probe set and its re-rank
    // shortlist to keep the candidate pool — the standard hybrid-ANN
    // compensation, still model-bounded (k·refine = 200 true vectors
    // fetched per query) and still partition-pruned (12 of 16 lists).
    // Together these lift the verdict floor from the PQ-geometry 0.15
    // to 0.5 (measured min 0.6–0.8 across sf0.001–0.1 on this
    // near-uniform worst-case geometry; RecallSpec pins the curve): a
    // recall collapse in the filtered path now fails the gate. The
    // exact ground truth brute-forces the filtered corpus.
    Q(
      "v16_filtered_ann",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, idx) = persistedIvfPqIndex(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = IvfPq.searchIndexRerank(queries,
          idx.filter(col("label") < 5), emb, "vec_id", "embedding",
          model, k, nProbe = 12, refine = 20)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries,
          emb.filter(col("label") < 5), "vec_id", "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.5, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // IVFADC+R (Jégou §V): the ADC scan keeps a k·refine shortlist per
    // query, then ONLY those candidates' true vectors are fetched from
    // the corpus (broadcast semi-join — one corpus scan, no shuffle)
    // and the final top-k is ranked by exact cosine. Re-ranking repairs
    // quantization's ranking errors, so recall dominates the plain ADC
    // path (RecallSpec pins ≥); the verdict bound here is accordingly
    // HIGHER than v13–v15's 0.15. Round 8 widened the shortlist
    // (refine 3 → 10: k·refine = 100 true vectors fetched per query,
    // still model-bounded) and raised the gate 0.3 → 0.5 — measured
    // per-query floors 0.6 at sf0.001 and 0.7 at sf0.1; at sf0.01 the
    // refine=3 floor is already 0.5 (RecallSpec) and a wider shortlist
    // is recall-monotone under exact re-ranking. A recall collapse on
    // the production read path now fails the gate loudly.
    Q(
      "v17_ivfpq_rerank",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, idx) = persistedIvfPqIndex(s, d)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        val approx = IvfPq.searchIndexRerank(queries, idx, emb, "vec_id",
          "embedding", model, k, nProbe = 8, refine = 10)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Similarity.bruteForceTopK(queries, emb, "vec_id",
          "embedding", k)
          .select(col("query_id"), col("neighbor_id"))
        approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
          .groupBy("query_id")
          .agg((count(lit(1)).cast("double") / k).as("recall"))
          .select(col("query_id"),
            when(col("recall") >= 0.5, 1).otherwise(0).as("recall_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS recall_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // Index MAINTENANCE: a new batch arrives after the index is built.
    // PQ encoding is row-local under a frozen model, so the batch is
    // encoded independently (map-side-only job over the new rows) and
    // APPENDED into the list_id partition dirs — no retrain, no rewrite
    // of existing files. The gate: search over the incrementally-
    // maintained index is IDENTICAL to search over the v14 full rebuild
    // (same model ⇒ same codes ⇒ same deterministic ranking). Emits one
    // row per query with match=1 when the (neighbor_id, rank) sets are
    // equal.
    Q(
      "v18_ivfpq_append",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, fullIdx) = persistedIvfPqIndex(s, d)
        val incrIdx = incrementalIvfPqIndex(s, d, model)
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        // both index scans share ONE probe ranking + probed-list
        // collect (deterministic, so sharing is pure work elimination)
        val probes = IvfPq.probeSet(queries, "vec_id", "embedding", model,
          nProbe = 8)
        val lists = IvfPq.collectProbedLists(probes)
        def run(i: org.apache.spark.sql.DataFrame) =
          IvfPq.searchIndexProbed(probes, lists, i, "vec_id", model, k)
            .select("query_id", "neighbor_id", "rank")
        val a = run(fullIdx)
        val b = run(incrIdx)
        a.join(b, Seq("query_id", "neighbor_id", "rank"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n"))
          .select(col("query_id"),
            when(col("n") === k, 1).otherwise(0).as("match_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS match_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    // ----------------------------------------------------------------
    // Index DELETE maintenance (v19) — v18's dual, completing the
    // lifecycle (train → index → persist → append → delete): deletions
    // applied as a tombstone filter on the persisted index (no
    // rebuild, no touch of the list files — at 100 TB the tombstone
    // set is a metadata-sized anti-join pushed under the partition-
    // pruned scan) must search IDENTICALLY to an index rebuilt from
    // scratch on the surviving corpus under the same frozen model.
    // PQ codes are row-local, so filtering encoded rows ≡ encoding
    // filtered rows — the verdict also pins that no tombstoned
    // neighbor leaks through.
    Q(
      "v19_ivfpq_delete",
      (s, d) => {
        import graft.operators.IvfPq
        val emb = Tables.embeddings(s, d)
        val (model, fullIdx) = persistedIvfPqIndex(s, d)
        val deletedIdx = fullIdx.filter(!(col("vec_id") % 11 === 4))
        val rebuiltIdx = IvfPq.index(
          emb.filter(!(col("vec_id") % 11 === 4)),
          "vec_id", "embedding", model, withNorm = true,
          metaCols = Seq("label"))
        val queries = emb.filter(col("vec_id") < 5)
        val k = 10
        // shared probe ranking + probed-list collect (see v18)
        val probes = IvfPq.probeSet(queries, "vec_id", "embedding", model,
          nProbe = 8)
        val lists = IvfPq.collectProbedLists(probes)
        def run(i: org.apache.spark.sql.DataFrame) =
          IvfPq.searchIndexProbed(probes, lists, i, "vec_id", model, k)
            .select("query_id", "neighbor_id", "rank")
        run(deletedIdx)
          .join(run(rebuiltIdx),
            Seq("query_id", "neighbor_id", "rank"), "full_outer")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("neighbor_id") % 11 === 4, 1).otherwise(0))
              .as("n_tomb"))
          .select(col("query_id"),
            when(col("n") === k && col("n_tomb") === 0, 1).otherwise(0)
              .as("match_ok"))
          .orderBy("query_id")
      },
      Some("""
        SELECT query_id, CAST(1 AS INTEGER) AS match_ok
        FROM (SELECT unnest(generate_series(0, 4)) AS query_id)
        ORDER BY query_id""")),

    Q(
      "km1_kmeans_verdict",
      (s, d) => {
        val res = graft.operators.KMeans.train(
          Tables.embeddings(s, d), "vec_id", "embedding", k = 16, iters = 4)
        val rows = res.inertia.sliding(2).zipWithIndex.map {
          case (Seq(prev, cur), i) =>
            (i + 1, if (cur <= prev * (1 + 1e-9)) 1 else 0)
        }.toSeq
        import s.implicits._
        rows.toDF("iter", "monotone")
          .select(col("iter").cast("int").as("iter"),
            col("monotone").cast("int").as("monotone"))
          .orderBy("iter")
      },
      Some("""
        SELECT CAST(iter AS INTEGER) AS iter, CAST(1 AS INTEGER) AS monotone
        FROM (SELECT unnest(generate_series(1, 4)) AS iter)
        ORDER BY iter"""))
  )

  /** Shared oracle for v9/v10: both forms produce the identical
    * (sim DESC, neighbor_id ASC) per-query top-5. */
  private lazy val selfTopKOracle: String = s"""
        WITH bk AS (
          ${(0 until 4).map(bd =>
            s"SELECT vec_id, $bd AS band, ${bucketSql("embedding", 4, bd * 4)} AS bucket FROM embeddings")
            .mkString("\n          UNION ALL\n          ")}),
        cand AS (
          SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id != b.vec_id),
        p AS (
          SELECT query_id, neighbor_id,
                 ${cosSql("ea.embedding", "eb.embedding")} AS sim
          FROM cand
          JOIN embeddings ea ON ea.vec_id = query_id
          JOIN embeddings eb ON eb.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, rank, sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= 5
        ORDER BY query_id, rank"""
}
