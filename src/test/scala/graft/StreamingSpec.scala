package graft

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Drives the Structured Streaming entry points with a MemoryStream
  * source and a memory sink — incremental execution, watermarks, and
  * custom session state. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  test("tumbling window aggregates arrive incrementally with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventsStream.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 3.0))
      query.processAllAvailable()
      // advance watermark far enough to close the first two windows
      input.addData(Event(4, ts(400), 2, "view", 4.0))
      query.processAllAvailable()
      val out = spark.table("tumbling")
        .select("window_start", "event_type", "cnt", "total_value")
        .as[(Timestamp, String, Long, Double)].collect().sortBy(_._1.getTime)
      assert(out.length >= 2)
      assert(out.head._3 === 2L && out.head._4 === 3.0) // two clicks in hour 0
      assert(out(1)._2 === "view" && out(1)._3 === 1L)
    } finally query.stop()
  }

  test("streaming dedup drops duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventsStream.dedupedStream(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "view", 2.0))
      query.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
    } finally query.stop()
  }

  test("foreachBatch merge sink upserts each micro-batch into the catalog") {
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.storage.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("stream-cat").toString)
    val input = MemoryStream[Event]
    val query = EventsStream.mergeSink(
      input.toDF().select($"event_id", $"event_type", $"value"),
      cat, "events_state", Seq("event_id"),
      java.nio.file.Files.createTempDirectory("stream-ckpt").toString)
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0))
      query.processAllAvailable()
      input.addData(Event(2, ts(2), 1, "view", 99.0), Event(3, ts(3), 2, "click", 3.0))
      query.processAllAvailable()
      val out = cat.read("events_state").orderBy("event_id")
        .as[(Long, String, Double)].collect()
      assert(out === Seq((1L, "click", 1.0), (2L, "view", 99.0), (3L, "click", 3.0)),
        "batch 2 updated key 2 and inserted key 3")
    } finally query.stop()
  }

  test("indexed append sink keeps the skipping index fresh across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.storage.SkippingIndex
    val root = java.nio.file.Files.createTempDirectory("stream-idx").toString
    val cat = new graft.storage.ParquetCatalog(spark, root)
    // seed + index BEFORE the stream starts
    cat.overwriteVersioned("ev", Seq((0L, 0.0)).toDF("event_id", "value"))
    cat.index("ev", Seq("event_id"))
    val input = MemoryStream[Event]
    val query = EventsStream.appendSinkIndexed(
      input.toDF().select($"event_id", $"value"),
      cat, "ev",
      java.nio.file.Files.createTempDirectory("stream-idx-ckpt").toString)
    try {
      (1 to 3).foreach { b =>
        input.addData((1 to 4).map(i =>
          Event(b * 100L + i, ts(b * 10 + i), 1, "click", i.toDouble)): _*)
        query.processAllAvailable()
        // after EVERY micro-batch the index covers exactly the live files
        // (each batch is a manifest commit, so replays are exactly-once)
        val stats = SkippingIndex.readAt(cat.statsPath("ev"))
        assert(stats.size == cat.fileCount("ev").toInt,
          s"batch $b: index ${stats.size} entries vs ${cat.fileCount("ev")} files")
      }
      // and the index actually prunes: batch-1 ids only
      val live = cat.manifestFiles("ev", cat.currentVersion("ev"))
        .map(f => java.nio.file.Paths.get(root, ".versions", "ev").resolve(f).toString)
      val cand = SkippingIndex.candidateFilesAt(cat.statsPath("ev"), live,
        Seq(("event_id", 101.0, 104.0)))
      assert(cand.size < cat.fileCount("ev"),
        "per-batch files must prune on the event_id range")
      assert(cat.readRange("ev", Seq(("event_id", 101.0, 104.0))).count() == 4)
    } finally query.stop()
  }

  test("append sink replay: a re-delivered micro-batch commits nothing twice") {
    import graft.storage.SkippingIndex
    val root = java.nio.file.Files.createTempDirectory("replay-idx").toString
    val cat = new graft.storage.ParquetCatalog(spark, root)
    cat.overwriteVersioned("ev", Seq((0L, 0.0)).toDF("event_id", "value"))
    cat.index("ev", Seq("event_id"))
    val batch = Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "value")
    // first delivery commits
    val v1 = cat.appendBatch("ev", batch, "ckpt#0")
    val filesAfter = cat.manifestFiles("ev", cat.currentVersion("ev"))
    val statsAfter = SkippingIndex.readAt(cat.statsPath("ev"))
    assert(cat.read("ev").count() == 3)
    // REPLAY of the same batchId (Structured Streaming's at-least-once
    // foreachBatch contract after a restart): table AND index unchanged
    val v2 = cat.appendBatch("ev", batch, "ckpt#0")
    assert(v2 == v1, "replay must not commit a new version")
    assert(cat.read("ev").count() == 3, "replay must not duplicate rows")
    assert(cat.manifestFiles("ev", cat.currentVersion("ev")) == filesAfter)
    assert(SkippingIndex.readAt(cat.statsPath("ev")) == statsAfter)
    // a NEW batchId still commits
    cat.appendBatch("ev", Seq((3L, 3.0)).toDF("event_id", "value"), "ckpt#1")
    assert(cat.read("ev").count() == 4)
  }

  test("append sink replay of the TABLE-CREATING first batch is also exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("replay-first").toString
    val cat = new graft.storage.ParquetCatalog(spark, root)
    val batch = Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "value")
    // batch 0 CREATES the table — its token must ride the first commit
    val v1 = cat.appendBatch("ev", batch, "ckpt#0")
    assert(v1 == 1L && cat.read("ev").count() == 2)
    val v2 = cat.appendBatch("ev", batch, "ckpt#0") // restart replay
    assert(v2 == 1L, "replayed creating batch must not commit again")
    assert(cat.read("ev").count() == 2, "creating-batch replay must not duplicate")
  }

  test("replay idempotence survives vacuum(keep=1): the txn registry rides the current manifest") {
    val root = java.nio.file.Files.createTempDirectory("replay-vac").toString
    val cat = new graft.storage.ParquetCatalog(spark, root)
    cat.appendBatch("ev", Seq((1L, 1.0)).toDF("event_id", "value"), "ckpt#0")
    cat.appendBatch("ev", Seq((2L, 2.0)).toDF("event_id", "value"), "ckpt#1")
    // retention drops every manifest but the newest — the old probe
    // (sweep retained manifests for the token) would forget batch 1 here
    cat.vacuum("ev", keep = 1, minAgeMs = 0L)
    assert(cat.versions("ev") == Seq(2L))
    val before = cat.currentVersion("ev")
    val v = cat.appendBatch("ev", Seq((2L, 2.0)).toDF("event_id", "value"), "ckpt#1")
    assert(v == before, "post-vacuum replay must not commit")
    assert(cat.read("ev").count() == 2, "post-vacuum replay must not duplicate")
    // an intervening non-append commit must also carry the registry
    cat.deleteVersioned("ev", col("event_id") === 99L)
    val v2 = cat.appendBatch("ev", Seq((2L, 2.0)).toDF("event_id", "value"), "ckpt#1")
    assert(v2 == cat.currentVersion("ev") && cat.read("ev").count() == 2,
      "registry must survive a delete commit")
  }

  test("replay probe reads the bounded manifest chain, not an O(versions) sweep") {
    val root = java.nio.file.Files.createTempDirectory("replay-o1")
    val cat = new graft.storage.ParquetCatalog(spark, root.toString)
    // 12 batches: v11 is a snapshot-interval self-contained manifest, so
    // the current version's resolution chain is {v11, v12} only
    (0 to 11).foreach { i =>
      cat.appendBatch("ev", Seq((i.toLong, i * 1.0)).toDF("event_id", "value"),
        s"ckpt#$i")
    }
    // corrupt every manifest OUTSIDE the chain: anything that sweeps
    // history (the old O(versions) probe) now throws
    val vd = root.resolve(".versions").resolve("ev")
    (1L to 10L).foreach { v =>
      java.nio.file.Files.writeString(vd.resolve(s"v$v.manifest"), "garbage")
    }
    val cur = cat.currentVersion("ev")
    // replay of an OLD batch: the high-water (11) answers from the
    // current manifest's registry alone
    assert(cat.appendBatch("ev",
      Seq((5L, 5.0)).toDF("event_id", "value"), "ckpt#5") == cur)
    // and a NEW batch commits, resolving only the bounded chain
    cat.appendBatch("ev", Seq((12L, 12.0)).toDF("event_id", "value"), "ckpt#12")
    assert(cat.read("ev").count() == 13)
  }

  test("legacy tables without a txn registry fall back to the manifest sweep once") {
    val root = java.nio.file.Files.createTempDirectory("replay-legacy")
    val cat = new graft.storage.ParquetCatalog(spark, root.toString)
    cat.appendBatch("ev", Seq((1L, 1.0)).toDF("event_id", "value"), "ckpt#0")
    cat.appendBatch("ev", Seq((2L, 2.0)).toDF("event_id", "value"), "ckpt#1")
    // strip the registry from every manifest — the on-disk state a
    // pre-registry writer left behind (meta.batch tokens only)
    val vd = root.resolve(".versions").resolve("ev")
    cat.versions("ev").foreach { v =>
      val p = vd.resolve(s"v$v.manifest")
      val stripped = java.nio.file.Files.readString(p).split('\n')
        .filterNot(_.startsWith("meta.txn.")).mkString("\n")
      java.nio.file.Files.writeString(p, stripped)
    }
    val cur = cat.currentVersion("ev")
    // replay resolves through the legacy batch-token sweep
    assert(cat.appendBatch("ev", Seq((2L, 2.0)).toDF("event_id", "value"),
      "ckpt#1") == cur)
    assert(cat.read("ev").count() == 2)
    // and a new batch's commit re-establishes the registry
    cat.appendBatch("ev", Seq((3L, 3.0)).toDF("event_id", "value"), "ckpt#2")
    val m = cat.manifest("ev", cat.currentVersion("ev"))
    assert(m.meta.exists(_._1.startsWith("txn.")), m.meta.toString)
  }

  test("upsertBatch replay commits NOTHING: version chain untouched under merge re-delivery") {
    val cat = new graft.storage.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("replay-ub").toString)
    val b0 = Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value")
    // table-creating first MERGE batch: token rides the first commit
    val v1 = cat.upsertBatch("st", b0, Seq("event_id"), "mck#0")
    assert(v1 == 1L && cat.read("st").count() == 2)
    assert(cat.upsertBatch("st", b0, Seq("event_id"), "mck#0") == 1L,
      "replayed creating merge batch must not commit")
    assert(cat.versions("st") == Seq(1L))
    // a new batch commits; its replay leaves the chain untouched
    val b1 = Seq((2L, "view", 20.0), (3L, "click", 3.0))
      .toDF("event_id", "event_type", "value")
    val v2 = cat.upsertBatch("st", b1, Seq("event_id"), "mck#1")
    assert(v2 == 2L)
    val chain = cat.versions("st")
    assert(cat.upsertBatch("st", b1, Seq("event_id"), "mck#1") == v2)
    assert(cat.versions("st") == chain, "replay must not extend the chain")
    assert(cat.read("st").orderBy("event_id")
      .as[(Long, String, Double)].collect()
      === Seq((1L, "click", 1.0), (2L, "view", 20.0), (3L, "click", 3.0)))
    // an out-of-order older token is also a no-op (high-water semantics)
    assert(cat.upsertBatch("st", b0, Seq("event_id"), "mck#0") == v2)
    assert(cat.read("st").filter(col("value") === 2.0).count() == 0,
      "a stale batch must not resurrect old values")
  }

  test("merge sink replay: re-upserting an identical batch is a content no-op") {
    val cat = new graft.storage.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("replay-merge").toString)
    val batch = Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value")
    cat.upsertVersioned("events_state", batch, Seq("event_id"))
    val before = cat.read("events_state").orderBy("event_id")
      .as[(Long, String, Double)].collect()
    // the foreachBatch MERGE sink's replay path: same batch, same keys —
    // MERGE semantics make the re-application invisible
    cat.upsertVersioned("events_state", batch, Seq("event_id"))
    assert(cat.read("events_state").orderBy("event_id")
      .as[(Long, String, Double)].collect() === before)
  }

  test("merge sink recovers from its checkpoint across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.storage.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("restart-cat").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("restart-ckpt").toString
    val input = MemoryStream[Event]
    def start() = EventsStream.mergeSink(
      input.toDF().select($"event_id", $"event_type", $"value"),
      cat, "events_state", Seq("event_id"), ckpt)

    val q1 = start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // data arriving while the query is DOWN...
    input.addData(Event(2, ts(2), 1, "view", 99.0),
      Event(3, ts(3), 2, "click", 3.0))

    // ...is picked up exactly once on restart from the same checkpoint:
    // offsets resume past batch 0, and even a replayed batch would be
    // idempotent because the sink is a keyed MERGE, not an append
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = cat.read("events_state").orderBy("event_id")
        .as[(Long, String, Double)].collect()
      assert(out === Seq((1L, "click", 1.0), (2L, "view", 99.0),
        (3L, "click", 3.0)))
    } finally q2.stop()
  }

  test("merge sink: a re-delivered batch adds no version") {
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.storage.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("redeliver-cat").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("redeliver-ckpt").toString
    val input = MemoryStream[Event]
    def start() = EventsStream.mergeSink(
      input.toDF().select($"event_id", $"event_type", $"value"),
      cat, "events_state", Seq("event_id"), ckpt)
    def rows() = cat.read("events_state").orderBy("event_id")
      .as[(Long, String, Double)].collect().toSeq
    val q1 = start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val versions = cat.versions("events_state")
    val before = rows()
    // a crash after the sink committed batch 0 but before Structured
    // Streaming recorded it: the restart re-delivers batch 0
    for (f <- Seq("0", ".0.crc"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", f))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.map(_.batchId).contains(0L),
        "the restart must re-deliver batch 0")
      assert(cat.versions("events_state") === versions,
        "a re-delivered batch must commit nothing")
      assert(rows() === before)
      // the next batch still commits, as one new version
      input.addData(Event(2, ts(2), 1, "view", 99.0))
      q2.processAllAvailable()
      assert(cat.versions("events_state").size === versions.size + 1)
      assert(rows() === Seq((1L, "click", 1.0), (2L, "view", 99.0)))
    } finally q2.stop()
  }

  test("stream-static enrichment broadcast-joins the dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("user_id", "seg")
    val input = MemoryStream[Event]
    val query = EventsStream.enrichedCounts(input.toDF(), dim, "user_id", "seg")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(20), 9, "view", 5.0)) // user 9 not in dim -> unknown
      query.processAllAvailable()
      input.addData(Event(4, ts(400), 2, "view", 4.0)) // advance watermark
      query.processAllAvailable()
      val out = spark.table("enriched")
        .select("segment", "cnt", "total_value")
        .as[(String, Long, Double)].collect().sortBy(_._1)
      assert(out.map(_._1).toSeq === Seq("BUILDING", "unknown"))
      assert(out.head._2 === 2L && out.head._3 === 3.0)
      assert(out(1)._2 === 1L && out(1)._3 === 5.0)
    } finally query.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventsStream.clickAttribution(input.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(10), 1, "purchase", 9.99), // within 30m of click 1
        Event(3, ts(0), 2, "click", 0.0))
      query.processAllAvailable()
      input.addData(
        Event(4, ts(50), 2, "purchase", 5.0),  // 50m after click 3: too late
        Event(5, ts(600), 9, "view", 0.0))     // watermark advance
      query.processAllAvailable()
      val out = spark.table("attrib")
        .select("click_id", "purchase_id", "value", "gap_us")
        .as[(Long, Long, Double, Long)].collect()
      assert(out.toSeq === Seq((1L, 2L, 9.99, 600000000L)),
        s"only the in-window pair attributes; got ${out.mkString}")
    } finally query.stop()
  }

  test("sessionization emits closed sessions with event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventsStream.sessionize(input.toDS(), gapSec = 600)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // session 1: two events 5 min apart; then a 40-min gap opens
      // session 2; the watermark advance (late big timestamp) closes #1.
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(5), 7, "click", 2.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(45), 7, "view", 3.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(600), 8, "view", 9.0))
      query.processAllAvailable()
      val out = spark.table("sessions").as[EventsStream.SessionSummary]
        .collect().sortBy(_.session_start)
      assert(out.nonEmpty)
      assert(out.head.user_id === 7L)
      assert(out.head.n_events === 2L)
      assert(out.head.total_value === 3.0)
    } finally query.stop()
  }

  test("streaming EWMA is bit-identical to the batch window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventsStream.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode("append").start()
    // 12 events per user (exceeds the horizon) over 2 users, delivered
    // in 3 micro-batches; values carry 2 decimals like the testdata,
    // plus NEGATIVE values with >6 decimal digits — the case where
    // half-up-toward-infinity (math.round) and the batch DECIMAL cast's
    // HALF_UP-away-from-zero diverge by one millionth
    val evs = (0 until 24).map { i =>
      val v =
        if (i % 5 == 0) -(i + 1) - 0.0000005
        else (i * 137 % 1000) / 100.0 + 0.07
      Event(i.toLong, ts(i), 1 + i % 2, "click", v)
    }
    try {
      input.addData(evs.take(8): _*)
      query.processAllAvailable()
      input.addData(evs.slice(8, 16): _*)
      query.processAllAvailable()
      input.addData(evs.drop(16): _*)
      query.processAllAvailable()
      val streamed = spark.table("ewma")
        .select("event_id", "ewma").as[(Long, Double)].collect().toMap
      val batch = graft.operators.TimeSeriesOps
        .withBoundedEwma(evs.toDF())
        .select("event_id", "ewma").as[(Long, Double)].collect().toMap
      assert(streamed.size == evs.size)
      evs.foreach { e =>
        val (sv, bv) = (streamed(e.event_id), batch(e.event_id))
        assert(java.lang.Double.doubleToLongBits(sv) ==
          java.lang.Double.doubleToLongBits(bv),
          s"event ${e.event_id}: stream $sv != batch $bv")
      }
    } finally query.stop()
  }
}
