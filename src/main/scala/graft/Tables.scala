package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only tables of a scale-factor directory: each table is one
  * `<dir>/<name>.parquet` path (see TESTDATA.md for the layout).
  *
  * Mirrors the reference's lakehouse catalog-scan surface
  * (SURVEY.md §2.1 S6/S7: `spark.table` / `spark.read.format("delta").load`,
  * reference `notebooks/silver_to_gold_analytics.py:87-97`) on plain
  * Parquet. Writable, versioned tables live in
  * [[graft.storage.ParquetCatalog]].
  *
  * Opening a table runs no Spark job: the schema is read on the driver
  * from the one footer Spark's own inference would read, and handed to
  * the reader ([[graft.storage.FooterSchema]]).
  *
  * At 100 TB these reads parallelize per parquet row-group; all queries
  * below project/filter *before* wide operations so Catalyst pushes the
  * scan down (check `PushedFilters`/`ReadSchema` in explain output).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.storage.FooterSchema.parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations, so the read is schema-adaptive, branching on the
    * footer schema [[table]] resolves (under `nanosAsLong`, set first):
    *
    *   - parquet TIMESTAMP(NANOS): Spark's schema conversion rejects it
    *     (PARQUET_TYPE_ILLEGAL); read as raw nanos (legacy conf) and
    *     truncate to micros with integer `div` — a double division would
    *     lose precision on int64 nanosecond epochs (~1.7e18 > 2^53).
    *   - parquet timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ):
    *     cast to TIMESTAMP. Session TZ is UTC everywhere (Verify/Bench/
    *     tests), so the cast is instant-preserving and downstream
    *     semantics (watermarks, window(), date_trunc) are identical to
    *     the nanos path.
    *
    * Either way callers see a single `ts: TIMESTAMP` column at µs
    * precision. The branches are pinned by EventsSchemaSpec against
    * hand-written fixtures of each encoding (an int64 `ts` standing in
    * for the nanos file).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected int64-nanos, timestamp, or timestamp_ntz)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
