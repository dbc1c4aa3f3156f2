package graft.streaming

import graft.storage.ParquetCatalog
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming over the events stream (SURVEY.md §2.9): the
  * reference's micro-batch incrementality (6-hourly triggers + MERGE
  * upserts + lookback windows, `fabric/data_factory_pipelines.py:74-123`)
  * mapped onto Spark's native streaming:
  *   - tumbling/sliding windowed aggregates with watermarks replace the
  *     re-computed lookback windows;
  *   - `flatMapGroupsWithState` sessionization replaces driver-side
  *     stateful loops;
  *   - late/duplicate handling comes from watermark + dropDuplicates
  *     instead of idempotent insert-only MERGE.
  *
  * The same transformations run on a batch DataFrame unchanged (the
  * queries in [[graft.queries.StreamingQueries]] are the batch-parity
  * oracle surface); these entry points add the incremental execution.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, session_start: Long,
      n_events: Long, total_value: Double)
  final case class EwmaPoint(event_id: Long, user_id: Long, ewma: Double)

  /** Tumbling-window counts with a watermark: late events beyond
    * `watermark` are dropped, state is bounded — the streaming form of
    * the A2 daily-trend aggregate. */
  def tumblingCounts(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Exactly-once-style dedup on the event id within the watermark —
    * the streaming equivalent of the insert-only MERGE (K4 /
    * personal_repos_ingestion.py:417-433). Uses
    * `dropDuplicatesWithinWatermark` so dedup state is actually evicted
    * once `event_id`s age past the watermark — plain
    * `dropDuplicates("event_id")` would keep state forever because the
    * event-time column isn't part of the dedup key. */
  def dedupedStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming MERGE sink: every micro-batch upserts into a catalog
    * table via `foreachBatch` — Structured Streaming's form of the
    * reference's per-run `MERGE INTO` (K2). Each batch commits through
    * [[graft.storage.ParquetCatalog.upsertBatch]] with the token
    * `<checkpointDir>#<batchId>`, so a batch Structured Streaming
    * re-delivers after a restart commits NOTHING: the version chain is
    * untouched under replay (the append sink's guarantee, extended to
    * update-shaped streams). Combine with [[dedupedStream]] upstream to
    * drop duplicate events inside a batch. */
  def mergeSink(stream: DataFrame, catalog: ParquetCatalog, table: String,
      keys: Seq[String], checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        catalog.upsertBatch(table, batch.toDF(), keys, s"$checkpointDir#$batchId")
        ()
      }
      .start()

  /** Streaming APPEND sink that keeps a data-skipping index fresh AND
    * commits each micro-batch exactly once: every batch lands as a
    * batchId-tagged manifest commit ([[graft.storage.ParquetCatalog
    * .appendBatch]]), so when Structured Streaming RE-DELIVERS a batch
    * after a restart (its at-least-once foreachBatch contract) the sink
    * recognizes the already-committed batchId and does nothing — table
    * contents and index are byte-identical under replay. The catalog's
    * append path incrementally refreshes the table's skipping index —
    * footer reads ONLY for the batch's new files, so index maintenance
    * cost tracks the increment, never the table. The closing of the
    * storage↔streaming loop: a long-running ingestion stream leaves
    * behind a versioned table whose range scans
    * ([[graft.storage.ParquetCatalog.readRange]]) prune files without a
    * separate indexing job. The index must exist before the stream
    * starts (`catalog.index`); a table without one degrades to a plain
    * exactly-once append sink. */
  def appendSinkIndexed(stream: DataFrame, catalog: ParquetCatalog,
      table: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        catalog.appendBatch(table, batch.toDF(), s"$checkpointDir#$batchId")
        ()
      }
      .start()

  /** Stream-static enrichment (§2.9): each micro-batch left-joins the
    * (small, broadcast) static dimension — the streaming form of J3/J5
    * dimension enrichment. No join state is kept: the static side is
    * re-resolved per batch, so a dimension refresh is picked up without
    * restarting the query; the stream side only shuffles for the
    * windowed aggregate. Batch parity: `st4_stream_enrich`. */
  def enrichedCounts(events: DataFrame, dim: DataFrame,
      joinKey: String, segmentCol: String, windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq(joinKey), "left")
      .withColumn("segment", coalesce(col(segmentCol), lit("unknown")))
      .groupBy(window(col("ts"), windowDur), col("segment"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("cnt"), col("total_value"))

  /** Stream-stream interval join (§2.9): purchases attributed to the
    * clicks they follow within `gapMinutes`, per user. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so Spark can size the join state and evict expired rows — the
    * stream-stream shape that runs indefinitely without unbounded
    * state. Batch parity: `st5_click_attrib` (identical plan minus
    * watermarks). */
  def clickAttribution(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") +
          expr(s"INTERVAL $gapMinutes MINUTES"))
      .select(col("click_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("value"),
        (expr("unix_micros(purchase_ts)") - expr("unix_micros(click_ts)"))
          .as("gap_us"))
  }

  /** Sessionization with custom state: a session closes after `gapSec`
    * of inactivity per user (flatMapGroupsWithState with processing-time
    * timeout). State per user is one (start, count, sum) triple —
    * constant memory per key at any scale. */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800)
      : Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Double), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[(Long, Long, Long, Double)]) =>
          if (state.hasTimedOut) {
            val (start, _, n, tot) = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, start, n, tot))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some((start, last, n, tot)) if t - last <= gapSec * 1000 =>
                  cur = Some((start, t, n + 1, tot + e.value))
                case Some((start, _, n, tot)) =>
                  out ::= SessionSummary(userId, start, n, tot)
                  cur = Some((t, t, 1L, e.value))
                case None =>
                  cur = Some((t, t, 1L, e.value))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 + gapSec * 1000)
            }
            out.reverseIterator
          }
      }
  }

  /** Streaming form of the bounded exact EWMA
    * ([[graft.operators.TimeSeriesOps.withBoundedEwma]], ts3): per-user
    * state is the ≤ 8 most recent values as exact integer millionths —
    * CONSTANT memory per key — and each arriving event emits its
    * smoothed point incrementally. Arithmetic mirrors the batch form
    * step for step (long numerator, one `/1e6`, one `/denom`), so
    * StreamingSpec pins the outputs bit-identical to the batch window.
    * Within a micro-batch, events sort by (µs, event_id) — the batch
    * order; across micro-batches arrival order is source order, as for
    * every streaming operator here. */
  def ewmaStream(events: Dataset[Event], horizon: Int = 8): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    require(horizon == 8, "weights are hardwired to the alpha=1/2, horizon-8 form")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[List[Long]]) =>
          var recent = state.getOption.getOrElse(Nil) // newest first, ≤ 8
          def micros(e: Event): Long =
            e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
          // quantize exactly as the batch form's DECIMAL(28,6) cast
          // (HALF_UP away from zero) — math.round is half-up toward
          // +infinity, which diverges for negative values with >6
          // decimal digits (e.g. -1.0000005)
          def quantize(v: Double): Long =
            BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .bigDecimal.unscaledValue().longValueExact()
          val out = rows.toSeq.sortBy(e => (micros(e), e.event_id)).map { e =>
            recent = (quantize(e.value) :: recent).take(horizon)
            var num = 0L
            recent.zipWithIndex.foreach { case (v, j) => num += v << (7 - j) }
            val denom = 256.0 - (1L << (8 - recent.size)).toDouble
            EwmaPoint(e.event_id, userId, (num.toDouble / 1e6) / denom)
          }
          state.update(recent)
          out.iterator
      }
  }
}
