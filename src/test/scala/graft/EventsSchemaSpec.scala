package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The testdata's `events.parquet` has shipped `ts` in two physical
  * encodings across generations (int64 nanoseconds, then timestamp[us]
  * with isAdjustedToUTC=false → TIMESTAMP_NTZ). `Tables.events` must
  * yield identical rows — a single `ts: TIMESTAMP` at µs precision —
  * from every encoding, so the next silent testdata regeneration is a
  * no-op instead of a 20-query outage (round-7 verdict item #3). */
class EventsSchemaSpec extends SparkSpec {
  import EventsSchemaSpec.micros
  private def writeFixture(encode: String): String =
    EventsSchemaSpec.writeFixture(spark, encode)

  private def readRows(dir: String): Seq[(Long, String, Long)] = {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType,
      s"events.ts must normalize to TIMESTAMP, got ${ev.schema("ts").dataType}")
    import spark.implicits._
    ev.select(col("event_id"), col("actor"), unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
  }

  test("all three ts encodings yield identical rows at µs precision") {
    val fromNanos = readRows(writeFixture("nanos"))
    val fromNtz = readRows(writeFixture("ntz"))
    val fromUtc = readRows(writeFixture("utc"))
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, s"u$i", us) }
    assert(fromNanos === expected)
    assert(fromNtz === expected)
    assert(fromUtc === expected)
  }

  test("current testdata reads through the adaptive branch") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.limit(5).count() > 0)
  }
}

/** The `events` fixtures, one per `ts` encoding (shared with
  * FooterSchemaSpec). */
object EventsSchemaSpec {
  // Instants with sub-millisecond µs parts to pin the ns→µs truncation.
  val micros = Seq(1700000000123456L, 1700000001987654L, 1700086400000001L)

  /** A scale-factor-shaped dir holding `events.parquet` in `encode`. */
  def writeFixture(spark: org.apache.spark.sql.SparkSession, encode: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-events-$encode").toString
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, s"u$i", us) }
      .toDF("event_id", "actor", "us")
    val df = encode match {
      case "nanos" => // int64 column named ts, like parquet TIMESTAMP(NANOS)
        // read under nanosAsLong (extra 789 ns must truncate away)
        base.withColumn("ts", col("us") * 1000L + 789L)
      case "ntz" => // timestamp[us], isAdjustedToUTC=false
        base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      case "utc" => // timestamp[us], isAdjustedToUTC=true
        base.withColumn("ts", timestamp_micros(col("us")))
    }
    df.drop("us").write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}
