package graft

import graft.functions.MulDivFunctions
import org.apache.spark.sql.functions._

/** Pins [[graft.functions.MulDiv]] identical to the DECIMAL(38,0)
  * `CAST(a AS DECIMAL(38,0)) * b div c` form it replaces in weighted
  * pagerank — across the long-overflow boundary of a·b, at the
  * pagerank operating range (a ≤ 1e12) and at a zero divisor. */
class MulDivSpec extends SparkSpec {
  import spark.implicits._

  test("mul_div equals the decimal form incl. past the long-product boundary") {
    val rows = Seq(
      (0L, 5L, 3L),
      (7L, 0L, 9L),
      (1000000000000L, 1L, 7L),
      (1000000000000L, 999983L, 31L),          // ~1e18: near the boundary
      // product ~9.2e22 (past Long.MaxValue), quotient back in range —
      // the pagerank domain: weight <= wsum, so quotient <= rank
      (1000000000000L, 92233720368L, 184467440737L),
      (4611686018427387903L, 4L, 5L),          // high bits set
      (123456789L, 987654321L, 1000003L)
    ).toDF("a", "b", "c")
    val out = rows
      .withColumn("viaDecimal", expr("CAST(a AS DECIMAL(38,0)) * b div c"))
      .withColumn("viaMulDiv", MulDivFunctions.mulDiv(col("a"), col("b"), col("c")))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("viaDecimal") === r.getAs[Long]("viaMulDiv"),
        s"mismatch for row $r")
    }
  }

  test("a zero divisor is NULL, as the decimal div is under non-ANSI division") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val inputs = Seq((7L, 3L, 0L), (0L, 0L, 0L), (7L, 3L, 2L))
    // the interpreted path as well as the generated one
    assert(inputs.map { case (a, b, c) =>
      graft.functions.MulDiv(Literal(a), Literal(b), Literal(c)).eval()
    } === Seq(null, null, 10L))
    val rows = inputs.toDF("a", "b", "c")
    val viaMulDiv = rows.select(
      MulDivFunctions.mulDiv(col("a"), col("b"), col("c")).as("r"))
    assert(viaMulDiv.schema("r").nullable)
    val got = viaMulDiv.as[Option[Long]].collect().toSeq
    assert(got === Seq(None, None, Some(10L)))
    assert(nonAnsi(rows.select(expr("CAST(a AS DECIMAL(38,0)) * b div c"))
      .as[Option[Long]].collect().toSeq) === got)
  }

  test("weighted pagerank with a zero-weight source equals the decimal form") {
    // s's out-edges all weigh 0, so its split divides by wsum = 0: the
    // decimal form contributes NULL there, which sum skips
    val edges = Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 3L),
      ("c", "a", 5L), ("s", "a", 0L), ("s", "c", 0L))
      .toDF("src", "dst", "weight")
    val got = graft.operators.Graph.pageRankWeighted(edges, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(got === nonAnsi(decimalPageRank(edges, 3)))
  }

  /** Runs `body` with ANSI arithmetic off: under it the decimal `div`
    * by zero is NULL instead of an error. */
  private def nonAnsi[T](body: => T): T = {
    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body
    finally saved.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  /** Weighted pagerank's recurrence with the DECIMAL(38,0) split that
    * `mul_div` replaced, evaluated to the driver. */
  private def decimalPageRank(edges: org.apache.spark.sql.DataFrame,
      iterations: Int): Map[String, Long] = {
    val scale = 1000000000000L
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val n = nodes.count()
    val edgesD = edges.join(edges.groupBy("src").agg(sum("weight").as("wsum")), "src")
    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 1 to iterations) {
      val contribs = edgesD.join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          expr("CAST(rank AS DECIMAL(38,0)) * weight div wsum").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("c"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), (lit((scale * 15 / 100) / n) +
          expr("(85 * coalesce(c, cast(0 as bigint))) div 100")).as("rank"))
    }
    ranks.as[(String, Long)].collect().toMap
  }

  test("negative operands fail loudly instead of diverging") {
    val ex = intercept[Exception] {
      Seq((-1L, 2L, 3L)).toDF("a", "b", "c")
        .select(MulDivFunctions.mulDiv(col("a"), col("b"), col("c"))).collect()
    }
    assert(ex.getMessage.contains("mul_div") ||
      Option(ex.getCause).exists(_.getMessage.contains("mul_div")))
  }
}
