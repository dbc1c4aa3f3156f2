package graft

import graft.operators.Upsert
import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The O(delta) change-data-feed tier: per-commit `tableChanges` (with
  * delete images), the file-scoped net `changesBetween`, feed
  * application, and the exactly-once incremental replica sync built on
  * them. The scoping pins matter most: every feed here must READ only
  * the files its manifests disagree on — at 100 TB "what changed" must
  * never cost a table scan. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog = new ParquetCatalog(spark,
    Files.createTempDirectory("graft-cdf").toString)

  /** v1 overwrite (4 rows, 2 partitions) → v2 append → v3 merge
    * (update + insert, partition a only) → v4 delete (one key). */
  private def seeded(cat: ParquetCatalog): Unit = {
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t",
      Seq((5L, "b", 50.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t",
      Seq((1L, "a", 11.0), (6L, "a", 60.0)).toDF("id", "p", "m"), Seq("id"),
      partitionBy = Seq("p"))
    cat.deleteVersioned("t", col("id") === 3L)
  }

  test("tableChanges attributes inserts, update images, and deletes per commit") {
    val cat = freshCatalog
    seeded(cat)
    val feed = cat.tableChanges("t", 0, 4, Seq("id"))
      .select("_commit_version", "_change_type", "id", "p", "m")
      .as[(Long, String, Long, String, Double)].collect().toSet
    val expected = Set(
      (1L, "insert", 1L, "a", 10.0), (1L, "insert", 2L, "a", 20.0),
      (1L, "insert", 3L, "b", 30.0), (1L, "insert", 4L, "b", 40.0),
      (2L, "insert", 5L, "b", 50.0),
      (3L, "update_preimage", 1L, "a", 10.0),
      (3L, "update_postimage", 1L, "a", 11.0),
      (3L, "insert", 6L, "a", 60.0),
      (4L, "delete", 3L, "b", 30.0))
    assert(feed === expected)
  }

  test("a pure-append commit's feed reads ONLY the appended files (join-free inserts)") {
    val cat = freshCatalog
    seeded(cat)
    val feed = cat.tableChanges("t", 1, 2, Seq("id"))
    val m1 = cat.manifestFiles("t", 1).toSet
    val m2 = cat.manifestFiles("t", 2)
    val added = m2.filterNot(m1)
    val read = feed.inputFiles.toSeq
    assert(read.nonEmpty)
    assert(read.forall(f => added.exists(a => f.endsWith(a))),
      s"append feed must read only the appended files; read $read")
    assert(feed.select("_change_type").distinct().as[String].collect()
      === Array("insert"))
  }

  test("a one-partition merge commit's feed reads only that partition's files") {
    val cat = freshCatalog
    seeded(cat)
    // v3 merges into partition a only; partition b's files are carried
    val read = cat.tableChanges("t", 2, 3, Seq("id")).inputFiles.toSeq
    assert(read.nonEmpty)
    assert(read.forall(_.contains("/p=a/")),
      s"the merge commit's feed must not open partition b; read $read")
  }

  test("net changesBetween reads only the files the manifests disagree on, and equals the full diff") {
    val cat = freshCatalog
    seeded(cat)
    val scoped = cat.changesBetween("t", 1, 3, Seq("id"))
    val shared = cat.manifestFiles("t", 1).toSet
      .intersect(cat.manifestFiles("t", 3).toSet)
    assert(scoped.inputFiles.forall(f => !shared.exists(s => f.endsWith(s))),
      "net feed must not open carried files")
    // untouched partition b's files are carried v1→v3, so the scoped
    // plan reads partition a only
    assert(shared.nonEmpty, "merge must have carried partition b's files")
    val a = cat.readVersion("t", 1)
    val b = cat.readVersion("t", 3)
    val full = Upsert.changeFeed(a.select(a.columns.sorted.map(col): _*),
      b.select(b.columns.sorted.map(col): _*), Seq("id"))
    assert(scoped.collect().toSet === full.collect().toSet)
  }

  test("a compaction commit emits an empty feed (same rows, new files)") {
    val cat = freshCatalog
    seeded(cat)
    cat.compactPartition("t", 1000L, Seq("p" -> "b"))
    val v = cat.currentVersion("t")
    assert(cat.history("t").filter(col("version") === v)
      .select("operation").as[String].head() === "compact")
    assert(cat.tableChanges("t", v - 1, v, Seq("id")).count() === 0)
  }

  test("feed across a metadata-only schema evolution reads old rows as nulls") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a", 10.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.appendVersioned("t",
      Seq((2L, "a", 20.0, "x")).toDF("id", "p", "m", "tag"), Seq("p"),
      evolveSchema = true)
    val feed = cat.tableChanges("t", 0, 2, Seq("id"))
      .select("_commit_version", "_change_type", "id", "tag")
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(feed === Set((1L, "insert", 1L, None), (2L, "insert", 2L, Some("x"))))
  }

  test("applyFeed reduces a multi-commit feed to terminal images") {
    // key 1: inserted v1, updated v3 -> terminal postimage
    // key 2: inserted v1, deleted v4 -> gone
    // key 3: inserted v2 only       -> insert
    val target = Seq.empty[(Long, String, Double)].toDF("id", "p", "m")
    val feed = Seq(
      (1L, "insert", "a", 10.0, 1L),
      (2L, "insert", "a", 20.0, 1L),
      (1L, "update_preimage", "a", 10.0, 3L),
      (1L, "update_postimage", "a", 11.0, 3L),
      (3L, "insert", "b", 30.0, 2L),
      (2L, "delete", "a", 20.0, 4L))
      .toDF("id", "_change_type", "p", "m", "_commit_version")
    val out = Upsert.applyFeed(target, feed, Seq("id"))
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set((1L, "a", 11.0), (3L, "b", 30.0)))
  }

  test("applyChanges is exactly-once: a replayed feed window commits nothing") {
    val cat = freshCatalog
    seeded(cat)
    val feed = cat.tableChanges("t", 0, 4, Seq("id"))
    cat.applyChanges("r", feed, Seq("id"), Seq("p"), Some("sink#4"))
    val v = cat.currentVersion("r")
    assert(cat.applyChanges("r", feed, Seq("id"), Seq("p"), Some("sink#4")) === v)
    assert(cat.currentVersion("r") === v, "replay must not commit")
    assert(cat.read("r").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      cat.read("t").select("id", "p", "m").as[(Long, String, Double)].collect().toSet)
  }

  test("syncIncremental replays src commits exactly once and converges to src state") {
    val cat = freshCatalog
    seeded(cat)
    assert(cat.syncIncremental("t", "r", Seq("id")) === 4)
    assert(cat.read("r").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      cat.read("t").select("id", "p", "m").as[(Long, String, Double)].collect().toSet)
    assert(cat.syncIncremental("t", "r", Seq("id")) === 0, "caught-up sync is a no-op")
    // one more src commit: only IT is applied, and the replica's
    // untouched partition files are re-referenced, not rewritten
    cat.upsertVersioned("t", Seq((5L, "b", 55.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    val beforeFiles = cat.manifestFiles("r", cat.currentVersion("r"))
    assert(cat.syncIncremental("t", "r", Seq("id")) === 1)
    val afterFiles = cat.manifestFiles("r", cat.currentVersion("r"))
    val carriedA = beforeFiles.filter(_.contains("p=a")).toSet
    assert(carriedA.subsetOf(afterFiles.toSet),
      "replica partition a untouched by a partition-b update: files re-referenced")
    assert(cat.read("r").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      cat.read("t").select("id", "p", "m").as[(Long, String, Double)].collect().toSet)
    assert(cat.history("r").filter(col("operation") === "sync").count()
      === cat.currentVersion("r"))
  }

  test("changesSince anchors the feed by wall-clock: only commits after that state") {
    val cat = freshCatalog
    seeded(cat)
    val t2 = cat.commitTimestamp("t", 2).get
    val since = cat.changesSince("t", t2, Seq("id"))
    // the consumer saw the table as of t2 (= v2): replay v3 + v4 only
    assert(since.select("_commit_version").distinct()
      .as[Long].collect().toSet === Set(3L, 4L))
    assert(since.collect().toSet ===
      cat.tableChanges("t", 2, 4, Seq("id")).collect().toSet)
  }

  test("a partition-moving update syncs both partitions (preimage names the old one)") {
    val cat = freshCatalog
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.syncIncremental("t", "r", Seq("id"))
    // move key 1 from partition a to partition c
    cat.upsertVersioned("t", Seq((1L, "c", 11.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    cat.syncIncremental("t", "r", Seq("id"))
    assert(cat.read("r").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      cat.read("t").select("id", "p", "m").as[(Long, String, Double)].collect().toSet)
    assert(cat.read("r").filter(col("p") === "a" && col("id") === 1L).isEmpty,
      "old-partition copy must be gone")
  }

  test("vacuum past an un-synced replica's watermark fails the sync loudly, naming the remedy") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a", 10.0)).toDF("id", "p", "m"), Seq("p"))
    cat.syncIncremental("t", "r", Seq("id")) // replica watermark = v1
    cat.appendVersioned("t", Seq((2L, "a", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    cat.vacuum("t", keep = 1, minAgeMs = 0L) // drops the replica's catch-up window
    val e = intercept[IllegalStateException](cat.syncIncremental("t", "r", Seq("id")))
    assert(e.getMessage.contains("vacuum removed versions"), e.getMessage)
    assert(e.getMessage.contains("Re-bootstrap"), e.getMessage)
    // the replica was not half-updated by the failed sync
    assert(cat.read("r").select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("feed canon across evolution-then-full-restage keeps the newer files' added columns") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a", 10.0)).toDF("id", "p", "m"),
      Seq("p"))                                                        // v1
    cat.appendVersioned("t",
      Seq((2L, "a", 20.0, "x")).toDF("id", "p", "m", "tag"),
      Seq("p"), evolveSchema = true)                                   // v2: records union schema
    // a full overwrite records NO schema (its files are homogeneous)
    // and carries a column the recorded v2 union never saw — the feed
    // must read v3's files under THEIR schema, not v2's stale union
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0, "x", 5.0)).toDF("id", "p", "m", "tag", "extra"),
      Seq("p"))                                                        // v3
    val feed = cat.tableChanges("t", 2, 3, Seq("id"))
    assert(feed.columns.contains("extra"),
      s"newer files' added column dropped from the feed: ${feed.columns.toSeq}")
    val post = feed.filter(col("_change_type") === "update_postimage")
      .select("id", "extra").as[(Long, Double)].collect().toSeq
    assert(post === Seq((1L, 5.0)),
      "postimage must carry the newer files' column values")
    // row 2 was deleted across the window; its delete image has no
    // 'extra' to report (null under by-name resolution)
    assert(feed.filter(col("_change_type") === "delete")
      .select("extra").head().isNullAt(0))
  }
}
