package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Logical conflict detection (Delta's conflict checker): two
  * optimistic writers whose commits touch DISJOINT partitions both
  * land — the CAS loser fast-forwards its ALREADY-STAGED files onto
  * the winner instead of re-reading and re-staging. Overlapping or
  * non-scoped interleavings still take the full retry. The pin for
  * "no re-staging" is the staged NAME: files are named for the version
  * they were staged against, so the loser's v2-prefixed files landing
  * in the v3 manifest prove the fast-forward committed them verbatim. */
class ConflictSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): ParquetCatalog =
    new ParquetCatalog(spark, Files.createTempDirectory("graft-ff").toString)

  private def partFiles(cat: ParquetCatalog, t: String, v: Long, p: String) =
    cat.manifestFiles(t, v).filter(_.contains(s"p=$p/")).toSet

  test("disjoint-partition writers both land; the loser never re-stages") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // writer B wins version 2 with a merge scoped to partition b
    cat.upsertVersioned("t", Seq((2L, "b", 99.0)).toDF("id", "p", "m"),
      Seq("id"))
    assert(cat.currentVersion("t") === 2L)
    // writer A computed against version 1 (the fromVersion pin = the
    // long-transaction protocol) and targets partition a — its CAS at
    // v2 loses, the interleaved commit is provably disjoint, and the
    // staged files fast-forward onto v3
    val v = cat.upsertVersioned("t", Seq((1L, "a", -1.0)).toDF("id", "p", "m"),
      Seq("id"), fromVersion = Some(1L))
    assert(v === 3L, "the loser must land as the NEXT version, not throw")
    // both writers' effects are present
    assert(cat.read("t").orderBy("id").select("m").as[Double].collect().toSeq ===
      Seq(-1.0, 99.0))
    // partition b's files carried VERBATIM from the winner...
    assert(partFiles(cat, "t", 3, "b") === partFiles(cat, "t", 2, "b"))
    // ...and partition a's new files still carry their v2- staging name:
    // they were staged ONCE, against the pinned snapshot, never re-staged
    val aNew = partFiles(cat, "t", 3, "a") -- partFiles(cat, "t", 2, "a")
    assert(aNew.nonEmpty &&
      aNew.forall(_.split('/').last.startsWith("v2-")),
      s"fast-forwarded files must keep their staged name, got $aNew")
  }

  test("overlapping writers still conflict loudly; retry wrappers recover") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t", Seq((2L, "b", 99.0)).toDF("id", "p", "m"), Seq("id"))
    // same-partition interleaving: fast-forward must refuse (the loser's
    // staged merge was computed from stale partition content)
    intercept[graft.storage.ConcurrentWriteException](
      cat.upsertVersioned("t", Seq((2L, "b", -2.0)).toDF("id", "p", "m"),
        Seq("id"), fromVersion = Some(1L)))
    assert(cat.read("t").filter(col("id") === 2L).select("m")
      .as[Double].head() === 99.0, "the losing overlap must change nothing")
    // ...and the withRetry wrapper resolves it by re-reading
    val v = cat.upsertVersionedWithRetry("t",
      Seq((2L, "b", -2.0)).toDF("id", "p", "m"), Seq("id"),
      fromVersion = Some(1L))
    assert(v === 3L, "the retry re-reads v2 and commits the next version")
    assert(cat.read("t").filter(col("id") === 2L).select("m")
      .as[Double].head() === -2.0)
  }

  test("a non-scoped interleaved commit (ALTER, overwrite) blocks the fast-forward") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.addColumn("t", "tag", org.apache.spark.sql.types.StringType) // v2: schema change
    intercept[graft.storage.ConcurrentWriteException](
      cat.upsertVersioned("t", Seq((1L, "a", -1.0)).toDF("id", "p", "m"),
        Seq("id"), fromVersion = Some(1L)))
  }

  test("a partition-moving UPDATE declares its destination: no writer slides past it") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "x", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // v2: an UPDATE that MOVES id=1 from partition a into partition x —
    // its staged file lands in a partition the probe never named
    val (v, n) = cat.updateWhere("t", col("id") === 1L, Map("p" -> lit("x")))
    assert(v === 2L && n === 1L)
    // a writer scoped to partition x, computed against v1, must NOT
    // fast-forward past the move (its carried set would drop the moved
    // row's file) — it conflicts loudly and the retry resolves it
    intercept[graft.storage.ConcurrentWriteException](
      cat.upsertVersioned("t", Seq((2L, "x", -2.0)).toDF("id", "p", "m"),
        Seq("id"), fromVersion = Some(1L)))
    cat.upsertVersionedWithRetry("t", Seq((2L, "x", -2.0)).toDF("id", "p", "m"),
      Seq("id"), fromVersion = Some(1L))
    assert(cat.read("t").orderBy("id").select("id", "p", "m")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "x", 10.0), (2L, "x", -2.0)),
      "the moved row and the retried merge must both survive")
  }

  test("same-key merges into disjoint partitions refuse the fast-forward") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // writer B wins v2: merges the NEW key 5 into partition b
    cat.upsertVersioned("t", Seq((5L, "b", 50.0)).toDF("id", "p", "m"),
      Seq("id"))
    // writer A, computed against v1, merges the SAME key 5 landing in
    // partition a — write-disjoint but READ-overlapping: a serial
    // loser-second run would have MATCHED the winner's row and updated
    // it, so landing both would duplicate the key (no serial order
    // produces that state). The read-set guard must refuse.
    intercept[graft.storage.ConcurrentWriteException](
      cat.upsertVersioned("t", Seq((5L, "a", -5.0)).toDF("id", "p", "m"),
        Seq("id"), fromVersion = Some(1L)))
    assert(cat.read("t").filter(col("id") === 5L).count() === 1L,
      "the refused merge must change nothing")
    // the retry wrapper re-reads v2: key 5 now MATCHES and is updated
    // (moving to partition a), never duplicated
    cat.upsertVersionedWithRetry("t", Seq((5L, "a", -5.0)).toDF("id", "p", "m"),
      Seq("id"), fromVersion = Some(1L))
    val rows = cat.read("t").filter(col("id") === 5L)
      .select("p", "m").as[(String, Double)].collect().toSeq
    assert(rows === Seq(("a", -5.0)), s"exactly one row for key 5, got $rows")
  }

  test("merges whose keys contain the partition columns still fast-forward") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // writer B wins v2 in partition b; keys (id, p) COVER the layout,
    // so a source row's match can only live in its own partition —
    // write-disjointness implies read-disjointness, no scan needed
    cat.upsertVersioned("t", Seq((5L, "b", 50.0)).toDF("id", "p", "m"),
      Seq("id", "p"))
    val v = cat.upsertVersioned("t", Seq((6L, "a", 60.0)).toDF("id", "p", "m"),
      Seq("id", "p"), fromVersion = Some(1L))
    assert(v === 3L, "key-covering disjoint merges must fast-forward")
    assert(cat.read("t").count() === 4)
  }

  test("disjoint merges with DIFFERENT keys still fast-forward under the read guard") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // writer B wins v2: inserts key 7 into partition b
    cat.upsertVersioned("t", Seq((7L, "b", 70.0)).toDF("id", "p", "m"),
      Seq("id"))
    // writer A's key domain {1} never appears in the window's added
    // files — the content scan comes back clear and the fast-forward
    // lands (keys do NOT cover the layout, so this exercises the scan)
    val v = cat.upsertVersioned("t", Seq((1L, "a", -1.0)).toDF("id", "p", "m"),
      Seq("id"), fromVersion = Some(1L))
    assert(v === 3L, "a read-clear disjoint merge must fast-forward")
    assert(cat.read("t").orderBy("id").select("m").as[Double].collect().toSeq ===
      Seq(-1.0, 20.0, 70.0))
  }

  test("concurrent keyed syncs never fast-forward: the loser recomputes over the winner") {
    // applyChanges commits without a fast-forward — a lost CAS THROWS (no
    // fast-forward path exists for sync), so the retry wrapper always
    // recomputes against the winner's committed state. That makes the
    // merge guard's nightmare (the same NEW key landing twice through a
    // stale snapshot) impossible here: whatever the interleaving, a key
    // fed by both writers ends as exactly ONE row.
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    def feed(p: String, m: Double) =
      Seq((5L, "insert", p, m)).toDF("id", "_change_type", "p", "m")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val runs = Seq(feed("a", -5.0), feed("c", 55.0)).map(f =>
        scala.concurrent.Future(
          cat.withRetry()(cat.applyChanges("t", f, Seq("id"), Seq("p")))))
      runs.foreach(r =>
        scala.concurrent.Await.result(r, scala.concurrent.duration.Duration(120, "s")))
    } finally pool.shutdown()
    val rows = cat.read("t").filter(col("id") === 5L)
      .select("p", "m").as[(String, Double)].collect().toSeq
    assert(rows.length === 1,
      s"a key fed by two concurrent syncs must land exactly once, got $rows")
    assert(Set(("a", -5.0), ("c", 55.0)).contains(rows.head),
      s"the surviving image must be one writer's, got $rows")
    // and the losing sync's recompute preserved everything else
    assert(cat.read("t").count() === 3)
  }

  test("row-level UPDATE and DELETE fast-forward past disjoint appends") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // a concurrent APPEND into partition b (declares its partitions)
    cat.appendVersioned("t", Seq((3L, "b", 30.0)).toDF("id", "p", "m"), Seq("p"))
    // UPDATE scoped to partition a, computed against v1 → fast-forwards
    val (v, n) = cat.updateWhere("t", col("id") === 1L, Map("m" -> lit(-1.0)),
      fromVersion = Some(1L))
    assert(v === 3L && n === 1L)
    assert(cat.read("t").count() === 3, "the interleaved append's row survives")
    assert(cat.read("t").filter(col("id") === 1L).select("m")
      .as[Double].head() === -1.0)
    // DELETE scoped to partition b, computed against v2 (before the
    // update touched a) → disjoint → fast-forwards
    val (v2, n2) = cat.deleteVersioned("t", col("id") === 3L,
      fromVersion = Some(2L))
    assert(v2 === 4L && n2 === 1L)
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(1L, 2L))
    assert(cat.read("t").filter(col("id") === 1L).select("m")
      .as[Double].head() === -1.0, "the fast-forwarded update survives the delete")
  }

  test("a restore blocks the fast-forward: it rewinds every partition") {
    val cat = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t", Seq((1L, "a", 11.0)).toDF("id", "p", "m"),
      Seq("id")) // v2, touched {p=a}
    cat.upsertVersioned("t", Seq((3L, "b", 30.0)).toDF("id", "p", "m"),
      Seq("id")) // v3 adds key 3 to p=b
    cat.restore("t", 2L) // v4: back to v2, key 3 gone
    // a merge computed from v3's p=b would resurrect key 3 if it slid
    // past the restore on the restored version's touched set {p=a}
    intercept[graft.storage.ConcurrentWriteException](
      cat.upsertVersioned("t", Seq((2L, "b", 21.0)).toDF("id", "p", "m"),
        Seq("id"), fromVersion = Some(3L)))
    assert(!cat.read("t").select("id").as[Long].collect().contains(3L))
  }
}
