package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.file.{Files, Paths}

/** Versioned tables as Structured Streaming SOURCES with version-number
  * offsets. The soundness pins are the point: batches come from
  * MANIFEST diffs, so uncommitted crash debris in the data tree is
  * never delivered, rewrite commits are refused loudly instead of
  * silently duplicating rows, and a restarted query resumes at its
  * checkpointed version exactly once. */
class TableStreamSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-tsrc").toString
    (new ParquetCatalog(spark, root), root)
  }

  /** Drain everything currently available into a memory sink, reusing
    * `checkpoint` across calls (the restart contract). */
  private def drain(cat: ParquetCatalog, table: String, checkpoint: String,
      queryName: String, startingVersion: Long = 0L): Unit = {
    val q = cat.readStream(table, startingVersion).writeStream
      .format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain into a fresh buffer via foreachBatch (the sink kind that
    * SUPPORTS checkpoint recovery — the memory sink does not), reusing
    * `checkpoint` across calls: the restart contract. */
  private def drainBuffered(cat: ParquetCatalog, table: String,
      checkpoint: String): Set[(Long, Double)] = {
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Double)]()
    val q = cat.readStream(table).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0), r.getDouble(1))))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSet
  }

  test("appends stream as micro-batches; a restart resumes at the version high-water") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((3L, 30.0)).toDF("id", "m"))
    val ckpt = s"$root/ckpt"
    assert(drainBuffered(cat, "t", ckpt) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // new commits land while the query is down...
    cat.appendVersioned("t", Seq((4L, 40.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((5L, 50.0)).toDF("id", "m"))
    // ...and a restart from the same checkpoint delivers ONLY them
    assert(drainBuffered(cat, "t", ckpt) === Set((4L, 40.0), (5L, 50.0)),
      "restart must resume at the checkpointed version, exactly once")
    // caught up: another restart delivers nothing
    assert(drainBuffered(cat, "t", ckpt) === Set.empty)
  }

  test("startingVersion = current streams only future appends") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val pin = cat.currentVersion("t")
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    drain(cat, "t", s"$root/ckpt", "tsv", startingVersion = pin)
    assert(spark.table("tsv").as[(Long, Double)].collect().toSet ===
      Set((2L, 20.0)))
  }

  test("a rewrite commit in the window is refused loudly, never replayed as appends") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "a", 10.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t", Seq((1L, "a", 11.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    val e = intercept[StreamingQueryException] {
      drain(cat, "t", s"$root/ckpt", "trw")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("append-only"), msgs)
  }

  test("uncommitted debris in the data tree is never delivered (manifest-sound)") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    // plant an orphan: a real parquet file no manifest references — the
    // crash window between staging and the manifest CAS
    val data = Paths.get(root, ".versions", "t", "data")
    val real = cat.manifestFiles("t", 1).head
    Files.copy(Paths.get(root, ".versions", "t", real),
      data.resolve("v9-deadbeef-orphan.parquet"))
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    drain(cat, "t", s"$root/ckpt", "torph")
    assert(spark.table("torph").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 20.0)),
      "a directory watcher would have delivered the orphan's rows")
  }

  test("change stream delivers every verb's change rows with commit attribution") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t", Seq((1L, "a", 11.0), (3L, "a", 30.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    cat.deleteVersioned("t", col("id") === 2L)
    val q = cat.readChangeStream("t", Seq("id")).writeStream
      .format("memory").queryName("cdc")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("cdc")
      .select("_commit_version", "_change_type", "id", "m")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, "insert", 1L, 10.0), (1L, "insert", 2L, 20.0),
      (2L, "update_preimage", 1L, 10.0), (2L, "update_postimage", 1L, 11.0),
      (2L, "insert", 3L, 30.0),
      (3L, "delete", 2L, 20.0)))
    // equals the batch feed over the same window
    assert(got === cat.tableChanges("t", 0, 3, Seq("id"))
      .select("_commit_version", "_change_type", "id", "m")
      .as[(Long, String, Long, Double)].collect().toSet)
  }

  test("change stream restart resumes at the version high-water exactly once") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val ckpt = s"$root/ckpt"
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String, Long, Double)]()
    def drainCdc(): Unit = {
      val q = cat.readChangeStream("t", Seq("id")).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.select("_commit_version", "_change_type", "id", "m").collect()
            .foreach(r => got.add((r.getLong(0), r.getString(1),
              r.getLong(2), r.getDouble(3))))
          ()
        }.start()
      q.awaitTermination()
    }
    drainCdc()
    assert(got.size === 1) // v1's insert
    cat.upsertVersioned("t", Seq((1L, 12.0)).toDF("id", "m"), Seq("id"))
    drainCdc()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === Set(
      (1L, "insert", 1L, 10.0),
      (2L, "update_preimage", 1L, 10.0), (2L, "update_postimage", 1L, 12.0)),
      "restart must deliver only the new commit's changes")
    val before = got.size
    drainCdc()
    assert(got.size === before, "caught-up change stream delivers nothing")
  }

  test("the source honors Trigger.AvailableNow natively (no single-batch downgrade)") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val src = new graft.streaming.TableSourceProvider().createSource(
      spark.sqlContext, s"$root/meta", None, "graft-table",
      Map("root" -> root, "table" -> "t"))
    assert(src.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow],
      "without SupportsTriggerAvailableNow Spark WARN-downgrades " +
        "AvailableNow to a single unbounded batch")
    assert(src.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl])
  }

  test("maxVersionsPerTrigger + AvailableNow drains the backlog in bounded multi-batches") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))  // v1
    (2 to 4).foreach(i => cat.appendVersioned("t",
      Seq((i.toLong, i * 10.0)).toDF("id", "m")))                 // v2..v4
    val ckpt = s"$root/ckpt"
    val batches = scala.collection.concurrent.TrieMap[Long, Set[(Long, Double)]]()
    def drainLimited(): Unit = {
      val q = cat.readStream("t", maxVersionsPerTrigger = Some(1L)).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batches(id) = b.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          ()
        }.start()
      q.awaitTermination()
    }
    drainLimited()
    // 4 pending versions at cap 1 = 4 planned batches (a V1-downgraded
    // AvailableNow would have planned exactly ONE unbounded batch)
    assert(batches.size === 4,
      s"expected a 4-batch drain, got batches ${batches.keySet}")
    assert(batches.values.forall(_.size === 1), "each batch = one commit")
    assert(batches.values.flatten.toSet ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // commits land while the query is down; a restart drains ONLY them
    cat.appendVersioned("t", Seq((5L, 50.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((6L, 60.0)).toDF("id", "m"))
    batches.clear()
    drainLimited()
    assert(batches.size === 2)
    assert(batches.values.flatten.toSet === Set((5L, 50.0), (6L, 60.0)))
    // caught up: nothing
    batches.clear()
    drainLimited()
    assert(batches.isEmpty)
  }

  test("a backlog behind the checkpoint: one batch unbounded, window-sized batches under maxVersionsPerTrigger") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((0L, 0.0)).toDF("id", "m"))
    val checkpointed = cat.currentVersion("t")
    // ten 3-row commits land behind a consumer checkpointed at v1
    (1 to 10).foreach(i => cat.appendVersioned("t",
      (1 to 3).map(k => ((10 * i + k).toLong, i.toDouble)).toDF("id", "m")))
    def batchRows(label: String, maxVersions: Option[Long]): Seq[Long] = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      cat.readStream("t", startingVersion = checkpointed,
          maxVersionsPerTrigger = maxVersions).writeStream
        .option("checkpointLocation", s"$root/ckpt-$label")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          rows.add(b.count()); ()
        }.start().awaitTermination()
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq
    }
    // unbounded, the catch-up is one backlog-sized batch: the hazard
    // the rate limit bounds
    assert(batchRows("unbounded", None) === Seq(30L))
    // a 4-version window: ceil(10 / 4) = 3 batches of at most 4 commits
    val bounded = batchRows("v4", Some(4L))
    assert(bounded.size === 3, s"batches $bounded")
    assert(bounded.forall(_ <= 4 * 3), s"a batch exceeds its window: $bounded")
    assert(bounded.sum === 30L, "every row delivered exactly once")
  }

  test("a crash mid-drain restarts at the failed batch: no loss, no duplicates") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))  // v1
    (2 to 4).foreach(i => cat.appendVersioned("t",
      Seq((i.toLong, i * 10.0)).toDF("id", "m")))                 // v2..v4
    val ckpt = s"$root/ckpt"
    val delivered = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    @volatile var crash = true
    def drainCrashy(): Unit = {
      val q = cat.readStream("t", maxVersionsPerTrigger = Some(1L)).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val ids = b.collect().map(_.getLong(0)).toSet
          if (id == 1L && crash) { crash = false; sys.error("simulated sink crash") }
          delivered(id) = ids
          ()
        }.start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException](drainCrashy())
    assert(delivered.keySet === Set(0L), "only batch 0 committed before the crash")
    drainCrashy() // restart from the same checkpoint
    // batch 1 (whose offset never committed) is re-delivered with the
    // SAME window, then the drain continues — union exact, no re-run
    // of batch 0, each version delivered under exactly one batch id
    assert(delivered.keySet === Set(0L, 1L, 2L, 3L))
    assert(delivered.values.flatten.toSet === Set(1L, 2L, 3L, 4L))
    assert(delivered.values.map(_.size).sum === 4, s"no duplicates: $delivered")
  }

  test("vacuum past a stream checkpoint fails the restart loudly, naming vacuum and the remedy") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val ckpt = s"$root/ckpt"
    assert(drainBuffered(cat, "t", ckpt) === Set((1L, 10.0))) // checkpoint at v1
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((3L, 30.0)).toDF("id", "m"))
    cat.vacuum("t", keep = 1, minAgeMs = 0L) // drops v1, v2 — the stream's window
    val e = intercept[StreamingQueryException](drainBuffered(cat, "t", ckpt))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("vacuum removed versions"), msgs)
    assert(msgs.contains("Re-bootstrap"), msgs)
    assert(msgs.contains("not retained"), msgs)
  }

  test("maxFilesPerTrigger bounds each batch by files-added, never stalls on a big commit") {
    val (cat, root) = fresh()
    // v1: 3 files (repartition 3); v2, v3: 1 file each
    cat.overwriteVersioned("t",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "m").repartition(3))
    cat.appendVersioned("t", Seq((4L, 40.0)).toDF("id", "m").coalesce(1))
    cat.appendVersioned("t", Seq((5L, 50.0)).toDF("id", "m").coalesce(1))
    val batches = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val q = cat.readStream("t", maxFilesPerTrigger = Some(2L)).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches(id) = b.collect().map(_.getLong(0)).toSet
        ()
      }.start()
    q.awaitTermination()
    // v1 alone exceeds the 2-file cap but must still admit (alone);
    // v2+v3 fit one batch together
    assert(batches.size === 2, s"got ${batches}")
    assert(batches(0L) === Set(1L, 2L, 3L))
    assert(batches(1L) === Set(4L, 5L))
  }

  test("maxBytesPerTrigger bounds each batch by bytes-added, oversized commits admit alone") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((3L, 30.0)).toDF("id", "m"))
    // a 1-byte budget is below ANY commit's size: every version must
    // still admit (alone), one batch per version — the no-stall rule
    val batches = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val q = cat.readStream("t", maxBytesPerTrigger = Some(1L)).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches(id) = b.collect().map(_.getLong(0)).toSet
        ()
      }.start()
    q.awaitTermination()
    assert(batches.size === 3, s"got $batches")
    assert(batches(0L) === Set(1L) && batches(1L) === Set(2L) &&
      batches(2L) === Set(3L))
    // a budget covering everything drains in ONE batch
    val all = scala.collection.concurrent.TrieMap[Long, Long]()
    val q2 = cat.readStream("t", maxBytesPerTrigger = Some(1L << 30)).writeStream
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        all(id) = b.count()
        ()
      }.start()
    q2.awaitTermination()
    assert(all.size === 1 && all(0L) === 3L, s"got $all")
    // the commits recorded their bytes: the probe needs no file stats
    for (v <- 1L to 3L)
      assert(cat.bytesAddedIn("t", v) > 0L, s"v$v bytesAdded missing")
  }

  test("the graft-table SINK in Complete mode: aggregate stream, overwrite per batch") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("src",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    val ckpt = s"$root/ckpt"
    def pipe(): Unit = {
      val agg = cat.readStream("src")
        .groupBy("p").count()
      val q = agg.writeStream
        .format("graft.streaming.TableSourceProvider")
        .option("root", root)
        .option("table", "dst")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe()
    assert(cat.read("dst").select($"p".cast("string"), $"count")
      .as[(String, Long)].collect().toSet === Set(("a", 1L), ("b", 1L)))
    val v = cat.currentVersion("dst")
    // caught up: a rerun commits NOTHING (replay token on the overwrite)
    pipe()
    assert(cat.currentVersion("dst") === v, "replayed Complete batch re-committed")
    // new source data → the NEXT batch REPLACES the whole result
    cat.appendVersioned("src", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    pipe()
    assert(cat.read("dst").select($"p".cast("string"), $"count")
      .as[(String, Long)].collect().toSet === Set(("a", 2L), ("b", 1L)),
      "Complete mode must overwrite, not append")
    // misuse is loud: keys + Complete is contradictory
    val e = intercept[Exception] {
      cat.readStream("src").groupBy("p").count().writeStream
        .format("graft.streaming.TableSourceProvider")
        .option("root", root).option("table", "dst2").option("keys", "p")
        .option("checkpointLocation", s"$root/ckpt3")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" ").contains("Complete"))
  }

  test("the graft-table SINK: stream-to-table pipe, exactly-once per batch, append mode") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("src", Seq((1L, 10.0)).toDF("id", "m"))
    cat.appendVersioned("src", Seq((2L, 20.0)).toDF("id", "m"))
    val ckpt = s"$root/ckpt"
    def pipe(): Unit = {
      val q = cat.readStream("src", maxVersionsPerTrigger = Some(1L)).writeStream
        .format("graft.streaming.TableSourceProvider")
        .option("root", root)
        .option("table", "dst")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe()
    assert(cat.read("dst").select("id", "m").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 20.0)))
    assert(cat.exists("dst"), "the sink writes versioned commits")
    val vAfterFirst = cat.currentVersion("dst")
    // caught-up rerun commits NOTHING (txn registry, not content luck)
    pipe()
    assert(cat.currentVersion("dst") === vAfterFirst)
    // new source commit → exactly one new dst commit
    cat.appendVersioned("src", Seq((3L, 30.0)).toDF("id", "m"))
    pipe()
    assert(cat.read("dst").count() === 3)
    assert(cat.currentVersion("dst") === vAfterFirst + 1)
    // the registry survives a replay even after vacuum
    cat.vacuum("dst", keep = 1, minAgeMs = 0L)
    pipe()
    assert(cat.read("dst").count() === 3)
  }

  test("the sink's exactly-once identity is canonical across checkpoint spellings") {
    // the same checkpoint spelled as a file: URI, with ./ segments, or
    // with a trailing slash must derive the SAME txn token — otherwise
    // a restart that spells the path differently replays every batch
    // as duplicate commits
    val (cat, root) = fresh()
    cat.overwriteVersioned("dst", Seq((0L, 0.0)).toDF("id", "m"))
    val provider = new graft.streaming.TableSourceProvider
    import org.apache.spark.sql.streaming.OutputMode
    def sink(spelling: String) = provider.createSink(spark.sqlContext,
      Map("root" -> root, "table" -> "dst", "checkpointLocation" -> spelling),
      Seq.empty, OutputMode.Append())
    val batch = Seq((1L, 10.0)).toDF("id", "m")
    sink(s"$root/ckpt").addBatch(0L, batch)
    val v = cat.currentVersion("dst")
    assert(cat.read("dst").count() === 2)
    for (same <- Seq(s"file:$root/ckpt", s"$root/./ckpt/", s"$root/ckpt/"))
      sink(same).addBatch(0L, batch)
    assert(cat.currentVersion("dst") === v,
      "equivalent checkpoint spellings must not re-commit the batch")
    assert(cat.read("dst").count() === 2)
    // a genuinely different identity DOES commit (negative control)
    provider.createSink(spark.sqlContext,
      Map("root" -> root, "table" -> "dst", "sinkId" -> "other"),
      Seq.empty, OutputMode.Append()).addBatch(0L, batch)
    assert(cat.read("dst").count() === 3)
    // MIGRATION: a sink that ran before canonicalization committed its
    // high-water under the RAW spelling; the upgraded sink must treat
    // that batch as a replay, not re-commit it
    val raw = s"$root/./oldckpt" // non-canonical spelling
    new graft.streaming.TableSink(cat, "dst", Nil, None, raw)
      .addBatch(0L, batch) // the "old version" commit, raw identity
    val v2 = cat.currentVersion("dst")
    sink(raw).addBatch(0L, batch) // upgraded sink, same raw spelling
    assert(cat.currentVersion("dst") === v2,
      "pre-canonicalization high-water must answer replay probes")
    sink(raw).addBatch(1L, batch) // genuinely new batch still lands
    assert(cat.currentVersion("dst") === v2 + 1)
  }

  test("URI-scheme checkpoints keep a CWD-independent verbatim identity") {
    // s3a://bucket/ckpt resolved against the driver's CWD would mint a
    // DIFFERENT identity per app attempt (cluster restarts get fresh
    // container dirs) — the sink must keep any non-file scheme VERBATIM
    val (cat, root) = fresh()
    cat.overwriteVersioned("dst", Seq((0L, 0.0)).toDF("id", "m"))
    val provider = new graft.streaming.TableSourceProvider
    import org.apache.spark.sql.streaming.OutputMode
    def sink(spelling: String) = provider.createSink(spark.sqlContext,
      Map("root" -> root, "table" -> "dst", "checkpointLocation" -> spelling),
      Seq.empty, OutputMode.Append())
    val batch = Seq((1L, 10.0)).toDF("id", "m")
    sink("s3a://bucket/ckpt").addBatch(0L, batch)
    assert(cat.sinkHighWater("dst", "s3a://bucket/ckpt") === Some(0L),
      "the registry identity must be the RAW scheme spelling, not a " +
        "CWD-resolved local path")
    // same spelling replays as a no-op; file: URIs still canonicalize
    val v = cat.currentVersion("dst")
    sink("s3a://bucket/ckpt").addBatch(0L, batch)
    assert(cat.currentVersion("dst") === v)
    sink(s"file:$root/./c2/").addBatch(0L, batch)
    assert(cat.sinkHighWater("dst", s"$root/c2") === Some(0L))
  }

  test("the graft-table SINK in merge mode (keys): update-shaped stream upserts per batch") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("src", Seq((1L, "a", 10.0)).toDF("id", "p", "m"), Seq("p"))
    def pipe(): Unit = {
      val q = cat.readStream("src").writeStream
        .format("graft.streaming.TableSourceProvider")
        .option("root", root)
        .option("table", "dst")
        .option("keys", "id")
        .option("partitionBy", "p")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe()
    // an append-only source re-delivering the same KEY must merge, not
    // duplicate, in the keyed sink
    cat.appendVersioned("src", Seq((1L, "a", 11.0), (2L, "b", 20.0))
      .toDF("id", "p", "m"), Seq("p"))
    pipe()
    assert(cat.read("dst").select("id", "m").as[(Long, Double)].collect().toSet ===
      Set((1L, 11.0), (2L, 20.0)), "key 1 must carry the post-update value")
    assert(cat.layout("dst") === Seq("p"))
  }

  test("vacuum past the checkpoint is loud from OFFSET PLANNING too (file-capped drain)") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val ckpt = s"$root/ckpt"
    assert(drainBuffered(cat, "t", ckpt) === Set((1L, 10.0)))
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((3L, 30.0)).toDF("id", "m"))
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    // with maxFilesPerTrigger the per-version metadata probe runs in
    // latestOffset, before any batch — the remedy message must surface
    // there too, not the raw 'not retained' error
    val e = intercept[StreamingQueryException] {
      val q = cat.readStream("t", maxFilesPerTrigger = Some(1L)).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ()
        }.start()
      q.awaitTermination()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("vacuum removed versions"), msgs)
    assert(msgs.contains("Re-bootstrap"), msgs)
  }

  test("partitioned tables stream with partition values resolved from dir names") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((3L, "c", 30.0)).toDF("id", "p", "m"), Seq("p"))
    drain(cat, "t", s"$root/ckpt", "tpart")
    assert(spark.table("tpart").select("id", "p", "m")
      .as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("bucketed-table sink: derivation + cell distribution + exactly-once (r20)") {
    // the canonical 100 TB ingest: a micro-batch sink appending into a
    // hash-bucketed fact. The sink never mentions the hidden bucket id
    // (stage derives it), each batch lands at most one file per cell
    // (the clustered write distribution), and batch-token replay stays
    // a no-op.
    val (cat, root) = fresh()
    cat.overwriteBucketedVersioned("agg",
      Seq((100L, 0.0)).toDF("k", "v"), "k", 4)
    cat.overwriteVersioned("src",
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v"))
    def pump(): Unit = {
      val q = cat.readStream("src").writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            cat.appendVersioned("agg", b.repartition(5),
              batchToken = Some(s"snk#$id"))
            ()
        }.start()
      q.awaitTermination()
    }
    pump()
    assert(cat.read("agg").count() === 31L)
    pump() // nothing new: replay must not double-apply
    assert(cat.read("agg").count() === 31L)
    cat.appendVersioned("src", (31L to 40L).map(i => (i, i * 1.0)).toDF("k", "v"))
    pump()
    assert(cat.read("agg").count() === 41L)
    // the layout invariant bucket SPJ rests on: every row's file dir
    // matches the derived id
    assert(cat.read("agg")
      .filter(pmod(hash(col("k")), lit(4)) =!= col("_gbucket"))
      .count() === 0L, "sink rows must land in their derived bucket")
    // one file per cell per batch: initial overwrite + two appends
    val perCell = cat.read("agg")
      .select(col("_gbucket"), input_file_name().as("fn"))
      .groupBy("_gbucket").agg(countDistinct(col("fn")).as("nf"))
      .agg(max(col("nf"))).as[Long].head()
    assert(perCell <= 3L, s"expected <=3 files per cell, got $perCell")
  }
}
