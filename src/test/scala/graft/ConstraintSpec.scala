package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CHECK constraints on the manifest tier (Delta `ADD CONSTRAINT`
  * parity): added as a metadata-only commit after validating every
  * existing row, carried on EVERY verb, and enforced INSIDE each
  * staging write's own pass (a codegen'd raise_error guard — zero
  * extra scans of the incoming frame). A violating write fails loudly
  * and commits nothing; NULL passes (SQL CHECK semantics). */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-chk").toString
    (new ParquetCatalog(spark, root), root)
  }

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last

  test("a violating append fails loudly, commits nothing, leaves no staging debris") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    assert(cat.constraints("t") === Map("m_pos" -> "m > 0"))
    val v = cat.currentVersion("t")
    val e = intercept[Exception](
      cat.appendVersioned("t", Seq((2L, -5.0)).toDF("id", "m")))
    assert(rootCause(e).getMessage.contains("m_pos"),
      s"violation must name the constraint: ${rootCause(e).getMessage}")
    assert(cat.currentVersion("t") === v, "a violating write must commit nothing")
    assert(cat.read("t").count() === 1)
    // staging dirs live at the root as `.tmp-<table>-<nonce>`
    val s = Files.list(Paths.get(root))
    val debris = try s.iterator().asScala.count(
      _.getFileName.toString.startsWith(".tmp-t-")) finally s.close()
    assert(debris === 0, "failed staging dirs must be cleaned eagerly")
    // and a valid append still lands
    cat.appendVersioned("t", Seq((3L, 3.0)).toDF("id", "m"))
    assert(cat.read("t").count() === 2)
  }

  test("NULL passes: SQL CHECK semantics, only definitive FALSE violates") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, Some(10.0))).toDF("id", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    cat.appendVersioned("t", Seq((2L, Option.empty[Double])).toDF("id", "m"))
    assert(cat.read("t").count() === 2)
  }

  test("addConstraint validates existing rows and refuses a violating table") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0), (2L, -1.0)).toDF("id", "m"))
    val v = cat.currentVersion("t")
    val e = intercept[IllegalStateException](cat.addConstraint("t", "m_pos", "m > 0"))
    assert(e.getMessage.contains("existing"))
    assert(cat.currentVersion("t") === v)
    assert(cat.constraints("t").isEmpty)
  }

  test("constraints survive merge, overwrite, compaction — and revert with restore") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.addConstraint("t", "m_pos", "m > 0") // v2
    // merge enforces
    intercept[Exception](cat.upsertVersioned("t",
      Seq((1L, "a", -9.0)).toDF("id", "p", "m"), Seq("id"),
      partitionBy = Seq("p")))
    cat.upsertVersioned("t", Seq((1L, "a", 11.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p")) // v3
    assert(cat.constraints("t") === Map("m_pos" -> "m > 0"))
    // full overwrite keeps the constraint (Delta parity) and enforces it
    intercept[Exception](cat.overwriteVersioned("t",
      Seq((9L, "a", -1.0)).toDF("id", "p", "m"), Seq("p")))
    cat.overwriteVersioned("t",
      Seq((9L, "a", 1.0)).toDF("id", "p", "m"), Seq("p")) // v4
    assert(cat.constraints("t") === Map("m_pos" -> "m > 0"))
    cat.compactPartition("t", 1000L, Seq("p" -> "a")) // v5
    assert(cat.constraints("t") === Map("m_pos" -> "m > 0"))
    // restore to v1 (pre-constraint) restores THAT version's metadata
    cat.restore("t", 1)
    assert(cat.constraints("t").isEmpty,
      "restore rewinds table metadata: the constraint predates v1")
    cat.appendVersioned("t", Seq((3L, "a", -1.0)).toDF("id", "p", "m"), Seq("p"))
    assert(cat.read("t").count() === 3)
  }

  test("dropConstraint stops enforcement; duplicate add and missing drop are loud") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    intercept[IllegalArgumentException](cat.addConstraint("t", "m_pos", "m > 1"))
    intercept[IllegalArgumentException](cat.dropConstraint("t", "nope"))
    cat.dropConstraint("t", "m_pos")
    assert(cat.constraints("t").isEmpty)
    cat.appendVersioned("t", Seq((2L, -5.0)).toDF("id", "m"))
    assert(cat.read("t").count() === 2)
    assert(cat.history("t").select("operation").as[String].collect().toSeq
      .slice(1, 3) === Seq("setConstraint", "dropConstraint"))
  }

  test("the guard is not pushed below joins: rows a join discards never raise") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    // the source frame CONTAINS violating rows, but an anti-join drops
    // them before the write; a pushed-down guard would raise spuriously
    val raw = Seq((2L, 5.0), (3L, -7.0), (4L, -8.0)).toDF("id", "m")
    val bad = Seq(Tuple1(3L), Tuple1(4L)).toDF("id")
    val src = raw.join(bad, Seq("id"), "left_anti")
    cat.appendVersioned("t", src)
    assert(cat.read("t").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 5.0)))
  }

  test("addConstraint racing a writer is CAS-safe: both land exactly once, any order") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def retrying(body: => Unit): Unit = {
      var done = false
      while (!done)
        try { body; done = true }
        catch { case _: graft.storage.ConcurrentWriteException => }
    }
    val a = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      retrying { c.addConstraint("t", "m_pos", "m > 0"); () }
    })
    val b = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      retrying { c.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m")); () }
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(cat.constraints("t") === Map("m_pos" -> "m > 0"))
    assert(cat.read("t").count() === 2)
    val vs = cat.versions("t")
    assert(vs === (vs.head to vs.last), s"gapless chain expected: $vs")
    // the constraint enforces regardless of which writer won the race
    intercept[Exception](cat.appendVersioned("t", Seq((9L, -1.0)).toDF("id", "m")))
  }

  test("multiple constraints all enforce; the raised error names the violated one") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "x", 10.0)).toDF("id", "tag", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    cat.addConstraint("t", "tag_known", "tag IN ('x','y')")
    assert(cat.constraints("t").keySet === Set("m_pos", "tag_known"))
    val e = intercept[Exception](cat.appendVersioned("t",
      Seq((2L, "z", 5.0)).toDF("id", "tag", "m")))
    assert(rootCause(e).getMessage.contains("tag_known"))
    cat.appendVersioned("t", Seq((3L, "y", 5.0)).toDF("id", "tag", "m"))
    assert(cat.read("t").count() === 2)
  }

  test("the guard fails CLOSED: a corrupt prior manifest rethrows, never skips enforcement") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.addConstraint("t", "m_pos", "m > 0")
    val v = cat.currentVersion("t")
    Files.writeString(Paths.get(root, ".versions", "t", s"v$v.manifest"),
      "this is not a manifest")
    // building the guard for the NEXT commit parses the corrupt prior —
    // it must throw (fail closed), not silently return an unguarded frame
    intercept[Exception](
      cat.constraintGuard("t", v + 1, Seq((2L, -5.0)).toDF("id", "m"), Nil))
  }

  test("a vanished prior manifest falls back to the current one's constraints — still enforced") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m")) // v1
    cat.addConstraint("t", "m_pos", "m > 0")                     // v2
    // v3 self-contained (an overwrite, not an append's delta manifest):
    // the current manifest must stay resolvable once v2 is gone
    cat.overwriteVersioned("t", Seq((2L, 20.0)).toDF("id", "m")) // v3
    // simulate a concurrent vacuum taking a pinned older snapshot
    // between the writer's manifest read and its staging write
    Files.delete(Paths.get(root, ".versions", "t", "v2.manifest"))
    val guarded = cat.constraintGuard("t", 3L,
      Seq((9L, -1.0)).toDF("id", "m"), Nil)
    val e = intercept[Exception](guarded.collect())
    assert(rootCause(e).getMessage.contains("m_pos"),
      "constraints ride every manifest; the current one must answer")
  }
}
