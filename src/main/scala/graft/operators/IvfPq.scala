package graft.operators

import graft.functions.NearestCentroidFunctions
import graft.functions.VectorExpressions.dotF
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF + product quantization — the composed production ANN index
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * PAMI 2011 §IV, the IVFADC setup): a coarse k-means quantizer routes
  * each vector to an inverted list, and a product quantizer encodes the
  * RESIDUAL (vector − its coarse centroid). Residual encoding is the
  * load-bearing idea: the residual field has far less energy than the
  * raw vectors, so the same m×k codebook budget quantizes it much more
  * accurately — v5 (IVF, exact in-list) and v12 (PQ, full scan) each
  * prove half of this; the composition is what a real 100 TB index runs.
  *
  * Spark shape:
  *   - TRAIN: [[KMeans.train]] for the coarse centroids (driver-held
  *     nLists·dim floats), then one narrow codegen'd residual projection
  *     ([[graft.functions.CentroidResidual]]) feeding
  *     [[ProductQuantizer.train]] — both trainings are ONE
  *     decimal-deterministic hash-agg shuffle per Lloyd round;
  *   - INDEX: per corpus row, `(list_id, codes)` — two map-side
  *     codegen'd expressions, no shuffle; the 100 TB memory contract is
  *     dim·4 bytes → m one-byte-ish codes + one int list id;
  *   - SEARCH: queries rank the nLists coarse centroids (a broadcast
  *     crossJoin against a model-sized frame), keep `nProbe` lists, and
  *     the index scan joins the BROADCAST probe set on `list_id` — the
  *     corpus/index side never shuffles; scoring reconstructs
  *     centroid + codeword residual per scanned row and the bounded
  *     top-k heap keeps shuffle traffic O(k) per query.
  *
  * Determinism: md5-ordered seeds, decimal sums, lower-index tie breaks
  * — the trajectory is bit-stable, so the v13 recall verdict is a
  * regression pin, not a statistical hope (RecallSpec measures the
  * curve and pins v13 ≥ v12 at full probe width, the residual payoff).
  */
object IvfPq {

  /** Driver-held model: nLists coarse centroids + the residual-space
    * product quantizer — O(nLists·dim + m·k·dim/m) floats, never a
    * function of corpus size. */
  final case class Model(coarse: Array[Array[Float]],
      pq: ProductQuantizer.Model)

  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nLists: Int = 16, coarseIters: Int = 2,
      m: Int = 8, k: Int = 16, pqIters: Int = 2): Model = {
    val km = KMeans.train(df, idCol, vecCol, nLists, coarseIters)
    val resid = KMeans.assign(df, vecCol, km.centroids)
      .select(col(idCol), NearestCentroidFunctions.centroidResidual(
        col(vecCol), col("cluster_id"), km.centroids).as("__resid"))
    val pq = ProductQuantizer.train(resid, idCol, "__resid", dim, m, k, pqIters)
    Model(km.centroids, pq)
  }

  /** The persisted index frame: (idCol, list_id, codes) — what a 100 TB
    * deployment writes once and searches many times. Pure map-side
    * projection: assignment and encode are codegen'd expressions. */
  def index(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model, withNorm: Boolean = false,
      metaCols: Seq[String] = Nil): DataFrame = {
    val listId = NearestCentroidFunctions.nearestCentroid(col(vecCol), model.coarse)
    // metaCols: filterable attributes carried INTO the index (label,
    // source, date, …) — a hybrid search (predicate + ANN) then pushes
    // the predicate to the index scan (PushedFilters) instead of
    // semi-joining the corpus, so data skipping works in both
    // dimensions: list_id partitions AND metadata row groups
    val base = corpus
      .withColumn("list_id", listId)
      .select(col(idCol) +: col("list_id") +: metaCols.map(col) :+
        ProductQuantizer.encodeCol(
          NearestCentroidFunctions.centroidResidual(
            col(vecCol), col("list_id"), model.coarse), model.pq).as("codes"): _*)
    // withNorm: the candidate's RECONSTRUCTED norm, computed once at
    // build time — ADC scoring never materializes the vector at search
    // time, so the cosine denominator must ride in the index (8 bytes
    // per row; the asymmetric numerator comes from the lookup table)
    if (!withNorm) base
    else base.withColumn("norm",
      sqrt(dotF(reconstruct(col("list_id"), col("codes"), model),
        reconstruct(col("list_id"), col("codes"), model))))
  }

  /** Approximate vector from the index entry: coarse centroid + PQ
    * reconstruction of the residual codes. Codegen'd
    * ([[graft.functions.PqReconstruct]] — one float add per element,
    * exactly what the previous zip_with lambda computed); the HOF form
    * was a CodegenFallback evaluated per candidate row of every search
    * and twice per corpus row of every `withNorm` index build. */
  private def reconstruct(listId: Column, codes: Column, model: Model): Column =
    graft.functions.PqFunctions.pqReconstruct(listId, codes,
      model.coarse, model.pq.codebooks, model.pq.subDim)

  /** Per-query probe set: the nProbe coarse lists nearest each query —
    * a broadcast crossJoin against the model-sized centroid frame.
    * `private[graft]` so queries comparing SEVERAL indexes under the
    * same queries/model (v18/v19) can compute it once. */
  private[graft] def probeSet(queries: DataFrame, idCol: String, vecCol: String,
      model: Model, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = model.coarse.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cv")
      .select(col("list_id"), col("cv").cast("array<float>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(dotF(col("qv"), col("qv"))))
    q.crossJoin(broadcast(cents))
      .withColumn("csim",
        round(dotF(col("qv"), col("cv")) / col("qn") / sqrt(dotF(col("cv"), col("cv"))), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("list_id"))))
      .filter(col("pr") <= nProbe)
      .select("query_id", "list_id", "qv", "qn")
  }

  /** Asymmetric search (exact queries vs reconstructed index) over the
    * nProbe nearest lists per query, indexing the corpus inline. */
  def topK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nProbe: Int,
      bounded: Boolean = false): DataFrame =
    search(probeSet(queries, idCol, vecCol, model, nProbe),
      index(corpus, idCol, vecCol, model).withColumnRenamed(idCol, "neighbor_id"),
      model, k, bounded)

  /** Search a PERSISTED index frame (`(neighbor_id, list_id, codes)` —
    * written once by [[index]]/[[save]], read many): the steady-state
    * production path. The probed list ids are collected (bounded by
    * nQueries·nProbe, a model-sized set) and applied as a LITERAL
    * `isin` filter, so an index written `partitionBy("list_id")` is
    * PARTITION-PRUNED at the scan — at 100 TB with thousands of lists,
    * a 50-query search reads only the ≤ 400 probed list directories,
    * never the corpus. The index side then only broadcast-joins the
    * probe set: no shuffle, no corpus-wide anything. */
  def searchIndex(queries: DataFrame, idx: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nProbe: Int,
      bounded: Boolean = false): DataFrame = {
    val probes = probeSet(queries, idCol, vecCol, model, nProbe)
    searchIndexProbed(probes, collectProbedLists(probes), idx, idCol,
      model, k, bounded)
  }

  /** The probed list ids for a probe frame — model-bounded: ≤ nLists. */
  private[graft] def collectProbedLists(probes: DataFrame): Array[Int] =
    probes.select("list_id").distinct().collect().map(_.getInt(0)).sorted

  /** [[searchIndex]] with a PRECOMPUTED probe set and probed-list ids:
    * several index scans over the same queries/model (the v18/v19
    * full-vs-maintained comparisons) share one probe ranking and one
    * probed-list collect instead of re-running both per index. */
  private[graft] def searchIndexProbed(probes: DataFrame,
      probedLists: Array[Int], idx: DataFrame, idCol: String,
      model: Model, k: Int, bounded: Boolean = false): DataFrame = {
    val pruned = idx
      .filter(col("list_id").isin(probedLists.map(Integer.valueOf): _*))
      .withColumnRenamed(idCol, "neighbor_id")
    search(probes, pruned, model, k, bounded)
  }

  /** ADC search over a persisted index built `withNorm = true`: the
    * query side precomputes, per probe row (nQueries·nProbe rows, a
    * model-sized frame), the raw query·coarse-centroid dot and the
    * flattened m×k table of per-subspace query·codeword dots; the hot
    * index scan then scores each candidate as
    * (coarse_dot + adc_lookup_sum(codes, table)) / ‖q‖ / stored_norm —
    * m=8 codegen'd lookups per candidate, no reconstruction, which is
    * how a 100 TB PQ index is actually scanned (Jégou §III.B). Recall
    * is pinned equal to the reconstruct path in RecallSpec (the two
    * differ only in float-summation grouping).
    */
  def searchIndexAdc(queries: DataFrame, idx: DataFrame, idCol: String,
      vecCol: String, model: Model, k: Int, nProbe: Int,
      bounded: Boolean = false): DataFrame = {
    val probes = probeSet(queries, idCol, vecCol, model, nProbe)
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = idx
      .filter(col("list_id").isin(probedLists.map(Integer.valueOf): _*))
      .withColumnRenamed(idCol, "neighbor_id")
    val coarseLit = typedlit(model.coarse.map(_.toSeq).toSeq)
    val cb = typedlit(
      model.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val sd = model.pq.subDim
    // per-probe-row prep is CodegenFallback HOFs over ~nQueries·nProbe
    // rows — cold path; the per-candidate scan below is pure codegen
    val prepped = probes
      .withColumn("cdot", dotF(col("qv"),
        element_at(coarseLit, col("list_id") + 1).cast("array<float>")))
      .withColumn("tbl", flatten(
        transform(sequence(lit(0), lit(model.pq.m - 1)), s =>
          transform(element_at(cb, s + 1).cast("array<array<float>>"), cw =>
            dotF(slice(col("qv"), s * sd + 1, lit(sd)), cw)))))
      .select("query_id", "list_id", "qn", "cdot", "tbl")
    val scored = pruned.join(broadcast(prepped), "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(
        (col("cdot") + graft.functions.VectorExpressions.adcSum(
          col("codes"), col("tbl"), model.pq.k))
          / col("qn") / col("norm"), 6))
    Similarity.finishTopK(scored, k, bounded)
  }

  /** IVFADC+R (Jégou et al. §V): exact re-ranking of the ADC shortlist.
    * The ADC scan keeps a shortlist of `k·refine` candidates per query
    * (quantized scores), then the TRUE vectors of just those candidates
    * are fetched from the corpus and the final top-k is ranked by exact
    * cosine. The shortlist is model-bounded (nQueries·k·refine rows),
    * so the fetch is a BROADCAST semi-join against the corpus — one
    * corpus scan, no shuffle of the big side — and the refinement
    * repairs exactly the errors quantization introduced: any true
    * neighbor the ADC pass placed anywhere in the shortlist is restored
    * to its exact rank (RecallSpec pins recall ≥ the plain ADC path).
    * At 100 TB this is the production read path: the 32× smaller PQ
    * index absorbs the scan, and only ~k·refine full vectors per query
    * are ever touched. */
  def searchIndexRerank(queries: DataFrame, idx: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, model: Model,
      k: Int, nProbe: Int, refine: Int = 3,
      bounded: Boolean = false): DataFrame = {
    val shortlist = searchIndexAdc(queries, idx, idCol, vecCol, model,
      k * refine, nProbe, bounded).select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(dotF(col("qv"), col("qv"))))
    val rescored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(shortlist.join(broadcast(q), "query_id")), "neighbor_id")
      .withColumn("sim", round(
        dotF(col("qv"), col("cv")) / col("qn")
          / sqrt(dotF(col("cv"), col("cv"))), 6))
    Similarity.finishTopK(rescored, k, bounded)
  }

  private def search(probes: DataFrame, idx: DataFrame, model: Model,
      k: Int, bounded: Boolean): DataFrame = {
    val scored = idx.join(broadcast(probes), "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("nv", reconstruct(col("list_id"), col("codes"), model))
      .withColumn("sim",
        round(dotF(col("qv"), col("nv")) / col("qn") / sqrt(dotF(col("nv"), col("nv"))), 6))
    Similarity.finishTopK(scored, k, bounded)
  }

  /** Persist the driver-held model as two small parquet tables
    * (`coarse`: one row per list; `codebooks`: one row per (sub, code)
    * centroid) — float arrays round-trip parquet exactly, so
    * [[load]] reconstructs the model bit-identically and a search over
    * the reloaded model equals the in-memory one. */
  def save(model: Model, spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import spark.implicits._
    model.coarse.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("list_id", "c")
      .select(col("list_id"), col("c").cast("array<float>").as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    (for {
      (book, sub) <- model.pq.codebooks.toSeq.zipWithIndex
      (cw, code) <- book.toSeq.zipWithIndex
    } yield (sub, code, cw.toSeq)).toDF("sub", "code", "c")
      .select(col("sub"), col("code"), col("c").cast("array<float>").as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val coarse = graft.storage.FooterSchema.parquet(spark, s"$dir/coarse")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).map(_._2)
    val rows = graft.storage.FooterSchema.parquet(spark, s"$dir/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val books = Array.ofDim[Array[Float]](m, k)
    rows.foreach { case (sub, code, c) => books(sub)(code) = c }
    val subDim = books(0)(0).length
    Model(coarse, ProductQuantizer.Model(m, k, subDim,
      books.map(_.toArray)))
  }
}
