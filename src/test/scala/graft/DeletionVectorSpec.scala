package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read row-level DELETE via deletion vectors (Delta
  * deletion-vectors parity): a point DELETE commits O(deleted rows)
  * sidecar bytes and flips per-file pointers — ZERO data files
  * rewritten — while every read path (current, time travel, point,
  * range, CDF, streams) anti-filters through the recorded positions.
  * Compaction materializes the deletes and sheds the vectors. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-dv").toString
    (new ParquetCatalog(spark, root), root)
  }

  test("a point delete is O(bitmap): zero data files rewritten, rows excluded") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    val before = cat.manifestFiles("t", 1)
    val (v, n) = cat.deleteVectors("t", col("id") === 42L)
    assert(v === 2L && n === 1L)
    assert(cat.manifestFiles("t", 2) === before,
      "a vector delete must not touch data files")
    assert(cat.read("t").count() === 99)
    assert(cat.read("t").filter(col("id") === 42L).count() === 0)
    // time travel still sees the row at v1
    assert(cat.readVersion("t", 1).filter(col("id") === 42L).count() === 1)
    // nothing-matched deletes commit nothing
    val (v2, n2) = cat.deleteVectors("t", col("id") === 42L)
    assert(v2 === 2L && n2 === 0L, "already-deleted rows never re-record")
    val (v3, n3) = cat.deleteVectors("t", col("id") === 9999L)
    assert(v3 === 2L && n3 === 0L)
  }

  test("vector deletes accumulate per file; restore reverts them") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") <= 5L)      // v2: 5 rows
    cat.deleteVectors("t", col("id") % 10L === 0L) // v3: 5 more
    assert(cat.read("t").count() === 40)
    assert(cat.readVersion("t", 2).count() === 45, "each version's own vectors")
    assert(cat.readVersion("t", 1).count() === 50)
    assert(cat.read("t").agg(sum("id")).as[Long].head() ===
      (1L to 50L).filterNot(i => i <= 5 || i % 10 == 0).sum)
    // restore rewinds the pointer map with the metadata
    cat.restore("t", 2)
    assert(cat.read("t").count() === 45)
    cat.restore("t", 1)
    assert(cat.read("t").count() === 50)
  }

  test("point and range reads anti-filter through the vectors") {
    val (cat, _) = fresh()
    val cat2 = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-dvb").toString, bloomFor = Seq("id"))
    cat2.overwriteVersioned("t", (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat2.index("t", Seq("id"))
    cat2.deleteVectors("t", col("id") === 7L)
    assert(cat2.readPoint("t", "id", 7L).count() === 0)
    assert(cat2.readPoint("t", "id", 8L).count() === 1)
    assert(cat2.readRange("t", Seq(("id", 1.0, 10.0))).count() === 9)
    val _ = cat
  }

  test("the change feed sees vector deletes as delete rows; net feed drops them") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") === 3L || col("id") === 17L)
    val feed = cat.tableChanges("t", 1, 2, Seq("id"))
    assert(feed.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted === Array(3L, 17L))
    assert(feed.filter(col("_change_type") =!= "delete").count() === 0,
      "untouched rows of the same file must not re-enter the feed")
    // net feed across the range: deleted rows emit nothing
    assert(cat.changesBetween("t", 1, 2, Seq("id")).count() === 0)
    // incremental sync applies the delete downstream
    val (dst, _) = fresh()
    dst.applyChanges("t2", cat.tableChanges("t", 0, 1, Seq("id")), Seq("id"))
    dst.applyChanges("t2", cat.tableChanges("t", 1, 2, Seq("id")), Seq("id"))
    assert(dst.read("t2").count() === 18)
    assert(dst.read("t2").filter(col("id").isin(3L, 17L)).count() === 0)
  }

  test("OPTIMIZE materializes the deletes and sheds the vectors; vacuum reclaims sidecars") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t",
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") <= 10L)
    def dvKeys(v: Long) =
      cat.history("t") // force manifest materialization path is irrelevant;
        .count() // keep linter quiet about unused
    val _ = dvKeys _
    cat.compact("t", rowsPerFile = 1000)
    assert(cat.read("t").count() === 90)
    assert(cat.read("t").filter(col("id") <= 10L).count() === 0,
      "compaction must materialize the deletes, not resurrect")
    // the compacted manifest carries no vector pointers: a fresh append
    // then a full vacuum reclaims the sidecar file itself
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    val s = Files.walk(java.nio.file.Paths.get(root, ".versions", "t", "data"))
    val sidecars =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("dv-")).toList
      } finally s.close()
    assert(sidecars.isEmpty, s"vacuum must reclaim shed sidecars, left $sidecars")
    assert(cat.read("t").count() === 90)
  }

  test("rewrite verbs compose with vectors: updates and partition rewrites never resurrect") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.deleteVectors("t", col("id") === 2L) // partition a
    cat.deleteVectors("t", col("id") === 5L) // partition b
    // a rewrite UPDATE in partition a materializes a's delete and keeps
    // b's vector live (pointer carried for b's untouched files)
    val (_, nUpd) = cat.updateWhere("t", col("id") === 4L, Map("m" -> lit(-4.0)))
    assert(nUpd === 1L)
    assert(cat.read("t").count() === 38)
    assert(cat.read("t").filter(col("id").isin(2L, 5L)).count() === 0)
    assert(cat.read("t").filter(col("m") < 0).count() === 1)
    // the versioned rewrite DELETE still composes
    val (_, nDel) = cat.deleteVersioned("t", col("id") === 5L)
    assert(nDel === 0L, "a vector-deleted row is already gone for the rewrite verb")
    // appends after vector deletes stay correct
    cat.appendVersioned("t", Seq((2L, "a", 200.0)).toDF("id", "p", "m"), Seq("p"))
    assert(cat.read("t").filter(col("id") === 2L).select("m")
      .as[Double].collect().toSeq === Seq(200.0),
      "the re-appended key must show ONLY the new row, not the deleted one")
  }

  test("an append-only stream refuses to skip a vector delete; changes mode replays it") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", (1L to 9L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((10L, 10.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") === 1L)
    val e = intercept[Exception] {
      import org.apache.spark.sql.streaming.Trigger
      val q = cat.readStream("t").writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("noop").start()
      q.awaitTermination()
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(e).getMessage.contains("deletion vectors"),
      s"got: ${rootCause(e).getMessage}")
    // the change stream delivers the delete rows instead
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    import org.apache.spark.sql.streaming.Trigger
    val q2 = cat.readChangeStream("t", Seq("id")).writeStream
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        rows ++= b.select("id", "_change_type").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        ()
      }.start()
    q2.awaitTermination()
    assert(rows.contains((1L, "delete")), s"got $rows")
  }

  test("a point UPDATE via vectors commits O(delta): old rows vectored, images appended") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    val before = cat.manifestFiles("t", 1).toSet
    val (v, n) = cat.updateVectors("t", col("id") === 42L, Map("m" -> lit(-42.0)))
    assert(v === 2L && n === 1L)
    val after = cat.manifestFiles("t", 2).toSet
    assert(before.subsetOf(after), "every original file re-referenced")
    assert((after -- before).size === 1, "exactly the updated image staged")
    assert(cat.read("t").count() === 100, "no duplicate: the old row is vectored out")
    assert(cat.read("t").filter(col("id") === 42L).select("m")
      .as[Double].head() === -42.0)
    assert(cat.readVersion("t", 1).filter(col("id") === 42L).select("m")
      .as[Double].head() === 42.0, "time travel keeps the preimage")
    // the change feed replays it as an update pair
    val feed = cat.tableChanges("t", 1, 2, Seq("id"))
    assert(feed.filter(col("_change_type") === "update_preimage")
      .select("m").as[Double].head() === 42.0)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("m").as[Double].head() === -42.0)
    assert(feed.count() === 2, "untouched rows of the same file stay out of the feed")
    // a second vector update composes (accumulating vectors + images)
    val (_, n2) = cat.updateVectors("t", col("id") === 42L, Map("m" -> lit(7.0)))
    assert(n2 === 1L)
    assert(cat.read("t").filter(col("id") === 42L).select("m")
      .as[Double].head() === 7.0)
    assert(cat.read("t").count() === 100)
    // nothing-matched updates commit nothing
    assert(cat.updateVectors("t", col("id") === 9999L, Map("m" -> lit(0.0)))
      === ((3L, 0L)))
  }

  test("a partition-moving vector UPDATE lands the image in its new slice") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    val (_, n) = cat.updateVectors("t", col("id") === 1L, Map("p" -> lit("b")))
    assert(n === 1L)
    assert(cat.read("t").filter(col("p") === "b").select("id")
      .as[Long].collect().sorted === Array(1L, 2L))
    assert(cat.read("t").filter(col("p") === "a").count() === 0,
      "the old-slice row is vectored out")
    assert(cat.read("t").count() === 2)
    // constraints still guard the staged images
    cat.addConstraint("t", "m_pos", "m > 0")
    intercept[Exception](
      cat.updateVectors("t", col("id") === 2L, Map("m" -> lit(-5.0))))
    assert(cat.read("t").filter(col("id") === 2L).select("m")
      .as[Double].head() === 20.0, "a guarded update must change nothing")
  }

  test("the deletionVectors property routes every DELETE/UPDATE door merge-on-read") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 50L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.sql("ALTER TABLE t SET TBLPROPERTIES ('graft.deletionVectors'='true')")
    assert(cat.tableProperties("t") === Map("graft.deletionVectors" -> "true"))
    val before = cat.manifestFiles("t", 2).toSet
    // SQL DELETE text: zero data files rewritten
    cat.sql("DELETE FROM t WHERE id = 5")
    assert(cat.manifestFiles("t", 3).toSet === before,
      "a property-routed DELETE must be merge-on-read")
    assert(cat.read("t").count() === 49)
    // SQL UPDATE text: originals kept, one image appended
    cat.sql("UPDATE t SET m = -6.0 WHERE id = 6")
    val after = cat.manifestFiles("t", 4).toSet
    assert(before.subsetOf(after) && (after -- before).size === 1,
      "a property-routed UPDATE must append one image, rewrite nothing")
    assert(cat.read("t").filter(col("id") === 6L).select("m")
      .as[Double].head() === -6.0)
    // the Scala verbs route too
    val (_, n) = cat.deleteVersioned("t", col("id") === 7L)
    assert(n === 1L)
    assert(cat.manifestFiles("t", 5).toSet === after, "verb DELETE routed")
    // UNSET restores the rewrite path (the touched partition restages)
    cat.sql("ALTER TABLE t UNSET TBLPROPERTIES ('graft.deletionVectors')")
    assert(cat.tableProperties("t") === Map.empty)
    cat.sql("DELETE FROM t WHERE id = 8")
    assert(cat.read("t").count() === 47)
    assert(!after.subsetOf(cat.manifestFiles("t", 7).toSet),
      "after UNSET the delete rewrites its touched partition")
  }

  test("a dv-enabled MERGE vectors matched rows and appends: zero data files rewritten") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    val before = cat.manifestFiles("t", 2).toSet
    // two matched updates (one per partition) + one insert
    val v = cat.upsertVersioned("t",
      Seq((3L, "b", -3.0), (4L, "a", -4.0), (99L, "b", 99.0))
        .toDF("id", "p", "m"), Seq("id"))
    assert(v === 3L)
    assert(before.subsetOf(cat.manifestFiles("t", 3).toSet),
      "a dv MERGE must rewrite zero data files")
    assert(cat.read("t").count() === 41)
    assert(cat.read("t").filter(col("id").isin(3L, 4L, 99L)).orderBy("id")
      .select("m").as[Double].collect().toSeq === Seq(-3.0, -4.0, 99.0))
    assert(cat.read("t").filter(col("id") === 3L).count() === 1,
      "the matched row's old image is vectored out, never duplicated")
    // time travel still sees the pre-merge images
    assert(cat.readVersion("t", 2).filter(col("id") === 3L).select("m")
      .as[Double].head() === 3.0)
    // the change feed replays the dv merge: update pairs + the insert
    val feed = cat.tableChanges("t", 2, 3, Seq("id"))
    assert(feed.filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().toSeq === Seq(99L))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("id").as[Long].collect().sorted === Array(3L, 4L))
  }

  test("dv MERGE semantics: smartCases, insertOnly, vectored keys re-merge correctly") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0)).toDF("id", "q", "m"))
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    def mOf(id: Long): Double = cat.read("t").filter(col("id") === id)
      .select("m").as[Double].head()
    // smart-merge resolution holds on the dv path (additive rollup)
    cat.upsertVersioned("t",
      Seq((1L, "x", 5.0), (7L, "z", 70.0)).toDF("id", "q", "m"), Seq("id"),
      smartCases = Map("m" -> graft.operators.Upsert.additive))
    assert(mOf(1L) === 15.0 && mOf(7L) === 70.0)
    // insertOnly: the matched row keeps the target image, no vectors —
    // the commit is a pure append on top of the same files
    val filesBefore = cat.manifestFiles("t", cat.currentVersion("t")).toSet
    cat.upsertVersioned("t",
      Seq((2L, "q2", -999.0), (8L, "w", 80.0)).toDF("id", "q", "m"),
      Seq("id"), insertOnly = true)
    assert(mOf(2L) === 20.0, "insertOnly keeps the matched target row")
    assert(mOf(8L) === 80.0)
    assert(filesBefore.subsetOf(
      cat.manifestFiles("t", cat.currentVersion("t")).toSet))
    // a key the earlier merge vectored re-merges against its live IMAGE
    cat.upsertVersioned("t", Seq((1L, "x", 100.0)).toDF("id", "q", "m"),
      Seq("id"))
    assert(mOf(1L) === 100.0)
    assert(cat.read("t").filter(col("id") === 1L).count() === 1)
    // a vector-DELETED key re-merges as an INSERT (the tombstoned row
    // is logically gone, so there is nothing to match)
    cat.deleteVersioned("t", col("id") === 3L)
    cat.upsertVersioned("t", Seq((3L, "x", 33.0)).toDF("id", "q", "m"),
      Seq("id"))
    assert(cat.read("t").filter(col("id") === 3L).count() === 1 &&
      mOf(3L) === 33.0)
    assert(cat.read("t").count() === 5)
  }

  test("the vector read filter is a broadcast anti-join over the pruned scan") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") === 3L)
    val plan = cat.read("t").queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti-join, got:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"small vectors must broadcast, got:\n$plan")
    // a table WITHOUT vectors keeps its plain scan plan (no join at all)
    val (cat2, _) = fresh()
    cat2.overwriteVersioned("t", (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "m"))
    val plain = cat2.read("t").queryExecution.executedPlan.toString
    assert(!plain.contains("Join"), s"vector-free reads must not pay a join:\n$plain")
  }

  test("above the broadcast cap the read filter degrades to a shuffled anti-join, same rows") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", (1L to 200L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") % 3L === 0L)
    val expected = cat.read("t").orderBy("id").collect().toSeq
    val broadcastPlan = cat.read("t").queryExecution.executedPlan.toString
    assert(broadcastPlan.contains("BroadcastHashJoin"))
    // force the shuffled branch: any real sidecar outweighs a 0-byte cap
    // (and switch off the planner's own size-based broadcast, which
    // would otherwise re-broadcast the tiny test sidecar anyway)
    spark.conf.set("spark.graft.dv.broadcastBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = cat.read("t")
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"still an anti-join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"above the cap the build side must NOT broadcast:\n$plan")
      assert(shuffled.orderBy("id").collect().toSeq === expected,
        "both branches must return identical rows")
      assert(shuffled.count() === 200 - 66)
    } finally {
      spark.conf.unset("spark.graft.dv.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("vector verbs lose CAS races cleanly: no stray sidecars, retry recovers") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((31L, 31.0)).toDF("id", "m")) // v2
    def sidecarsOnDisk(): Seq[String] = {
      val s = Files.walk(java.nio.file.Paths.get(root, ".versions", "t", "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("dv-")).toList
      } finally s.close()
    }
    // a vector DELETE computed against v1 loses the CAS to v2's append —
    // it must clean its just-written sidecar and throw
    intercept[graft.storage.ConcurrentWriteException](
      cat.deleteVectors("t", col("id") === 3L, fromVersion = Some(1L)))
    assert(sidecarsOnDisk().isEmpty, "a lost vector delete must clean its sidecar")
    assert(cat.read("t").count() === 31)
    // the retry wrapper re-reads and lands it
    val (_, n) = cat.withRetry()(cat.deleteVectors("t", col("id") === 3L))
    assert(n === 1L && cat.read("t").count() === 30)
    val live = sidecarsOnDisk()
    assert(live.size === 1)
    // same contract for the vector UPDATE (staged image cleaned too)
    val filesBefore = cat.manifestFiles("t", cat.currentVersion("t")).toSet
    intercept[graft.storage.ConcurrentWriteException](
      cat.updateVectors("t", col("id") === 4L, Map("m" -> lit(-4.0)),
        fromVersion = Some(1L)))
    assert(sidecarsOnDisk().toSet === live.toSet,
      "a lost vector update must clean its sidecar")
    val (_, n2) = cat.withRetry()(cat.updateVectors("t", col("id") === 4L,
      Map("m" -> lit(-4.0))))
    assert(n2 === 1L)
    assert(cat.read("t").filter(col("id") === 4L).select("m")
      .as[Double].head() === -4.0)
    // the lost update's staged image never entered any manifest: every
    // new file carries the RETRY's version prefix (Spark may also emit
    // an empty part-00000 alongside the image — harmless, 0 rows)
    val vNow = cat.currentVersion("t")
    val filesAfter = cat.manifestFiles("t", vNow).toSet
    val newFiles = filesAfter -- filesBefore
    assert(newFiles.nonEmpty && newFiles.forall(_.contains(s"v$vNow-")),
      s"only the retry's stage may join the manifest, got $newFiles")
  }

  test("REORG PURGE coalesces sidecars and rewrites only above-threshold files") {
    val (cat, _) = fresh()
    // one file per partition (coalesce(1)) so per-file fractions are exact
    cat.overwriteVersioned("t",
      (1L to 200L).map(i => (i, if (i <= 100) "a" else "b", i * 1.0))
        .toDF("id", "p", "m").coalesce(1), Seq("p"))
    // partition a's file: 40% deleted over two commits (above threshold);
    // partition b's file: one point delete (1%, below)
    cat.deleteVectors("t", col("id") <= 20L)
    cat.deleteVectors("t", col("id") > 20L && col("id") <= 40L)
    cat.deleteVectors("t", col("id") === 150L)
    val vBefore = cat.currentVersion("t")
    assert(cat.dvSidecarsAbs("t", vBefore).size === 2,
      "fixture: one live sidecar per vectored file (each commit's " +
        "sidecar holds its files' complete sets, superseding priors)")
    val filesBefore = cat.manifestFiles("t", vBefore)
    val preContent = cat.read("t").orderBy("id").select("id", "p", "m")
      .as[(Long, String, Double)].collect().toSeq
    val (v, rewritten) = cat.reorgPurge("t", threshold = 0.05)
    assert(v === vBefore + 1 && rewritten === 1,
      "only partition a's 40%-deleted file is rewritten")
    // b's original file survives verbatim; a's is gone
    val filesAfter = cat.manifestFiles("t", v)
    assert(filesBefore.filter(_.contains("p=b/")).forall(filesAfter.contains),
      "below-threshold files keep their bytes")
    assert(!filesBefore.filter(_.contains("p=a/")).exists(filesAfter.contains),
      "above-threshold files are replaced by live-row rewrites")
    // the sidecars coalesce to ONE, holding only b's position
    assert(cat.dvSidecarsAbs("t", v).size === 1)
    // content is bit-identical to the pre-purge read
    assert(cat.read("t").orderBy("id").select("id", "p", "m")
      .as[(Long, String, Double)].collect().toSeq === preContent)
    assert(cat.read("t").count() === 159)
    // time travel: the pre-purge version still reads under its vectors
    assert(cat.readVersion("t", vBefore).count() === 159)
    // a second purge is a no-op (nothing above threshold, one sidecar)
    val (v2, r2) = cat.reorgPurge("t", threshold = 0.05)
    assert(v2 === v && r2 === 0, "an already-purged table no-ops")
    // the Delta SQL text routes to the same verb
    val row = cat.sql("REORG TABLE t APPLY (PURGE)").head()
    assert(row.getString(0) === "t" && row.getLong(2) === 0L)
    // the SQL scan path agrees post-purge
    assert(cat.read("t").filter(col("id") === 150L).count() === 0)
  }

  test("clone carries the vectors; either side then evolves independently") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") <= 3L)
    cat.cloneTable("t", "c")
    assert(cat.read("c").count() === 27, "the clone must see the deletes")
    cat.deleteVectors("c", col("id") === 10L)
    assert(cat.read("c").count() === 26)
    assert(cat.read("t").count() === 27, "the source is untouched by the clone's delete")
    // source can vacuum without breaking the clone's linked sidecars
    cat.deleteVectors("t", col("id") === 20L)
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    assert(cat.read("c").count() === 26)
  }

  test("the SQL door names a missing sidecar instead of calling it too large") {
    // a sidecar lost after the query resolved (a concurrent vacuum, a
    // lost object) must surface as the missing path — not as the
    // "vectors too large, run OPTIMIZE" refusal
    val (cat, root) = fresh()
    val cname = graft.spark.GraftCatalog.register(spark,
      s"gdvmiss${System.nanoTime() % 100000}", root)
    cat.overwriteVersioned("t", (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.deleteVectors("t", col("id") === 3L)
    val sidecar = cat.dvSidecarsAbs("t", cat.currentVersion("t")).head
    val q = spark.sql(s"SELECT id, m FROM $cname.t")
    Files.delete(java.nio.file.Paths.get(sidecar))
    val e = intercept[Exception](q.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(sidecar)), messages.mkString(" | "))
    assert(!messages.exists(_.contains("OPTIMIZE")), messages.mkString(" | "))
  }
}
