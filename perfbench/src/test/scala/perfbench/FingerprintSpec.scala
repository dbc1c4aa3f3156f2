package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with LocalSpark {

  test("the fingerprint does not depend on row order or partitioning") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"),
      map(lit("m"), col("id")).as("m"), col("id").cast("double").as("k"))
    val shuffled = df.repartition(5, col("id") % 3).orderBy(col("id").desc)
    assert(Fingerprint.of(df) === Fingerprint.of(shuffled))
    assert(Fingerprint.of(df).rows === 1000)
  }

  test("a changed, missing or duplicated row changes it") {
    val df = spark.range(0, 100).toDF("id")
    val base = Fingerprint.of(df)
    assert(Fingerprint.of(df.withColumn("id", when(col("id") === 5, 500).otherwise(col("id")))) !== base)
    assert(Fingerprint.of(df.filter(col("id") =!= 5)) !== base)
    assert(Fingerprint.of(df.union(df.filter(col("id") === 5))) !== base)
  }

  test("fingerprints round-trip through the committed file format") {
    val f = java.nio.file.Files.createTempFile("prints", ".tsv")
    val prints = Seq("b" -> Fingerprint(3, BigDecimal("-12345678901234567890")), "a" -> Fingerprint(0, 0))
    Fingerprint.save(f, prints)
    assert(Fingerprint.load(f) === prints.toMap)
  }
}
