package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Zero-copy clone: dst is born at v1 with src@version's file list,
  * every data file hard-linked into dst's OWN tree. The independence
  * pins are the point — either side can write, vacuum, or die without
  * the other noticing, because write-once files shared by inode can
  * never be mutated through either path. */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-cln").toString
    (new ParquetCatalog(spark, root), root)
  }

  private def inode(p: java.nio.file.Path): Long =
    Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  test("clone equals the source version, bit-for-bit shared (hard links, zero copy)") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("s",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("s", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    assert(cat.cloneTable("s", "c") === 1L)
    assert(cat.read("c").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      cat.read("s").select("id", "p", "m").as[(Long, String, Double)].collect().toSet)
    // every clone file is the SAME inode as its source counterpart
    val m = cat.manifestFiles("c", 1)
    assert(m.nonEmpty)
    m.foreach { rel =>
      val a = Paths.get(root, ".versions", "s", rel)
      val b = Paths.get(root, ".versions", "c", rel)
      assert(inode(a) === inode(b), s"$rel must be hard-linked, not copied")
    }
    assert(cat.history("c").select("operation").as[String].head() === "clone")
  }

  test("clone of a historical version pins that state, not current") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("s", Seq((1L, 10.0)).toDF("id", "m"))
    cat.appendVersioned("s", Seq((2L, 20.0)).toDF("id", "m"))
    cat.deleteVersioned("s", col("id") === 1L)
    cat.cloneTable("s", "c", Some(2L))
    assert(cat.read("c").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 20.0)))
  }

  test("clone and source are independent: writes and vacuum on one never touch the other") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("s",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.cloneTable("s", "c")
    // diverge both sides
    cat.appendVersioned("c", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("s", Seq((1L, "a", 99.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    assert(cat.read("s").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 99.0), (2L, "b", 20.0)))
    assert(cat.read("c").select("id", "p", "m").as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)))
    // src vacuums away the very version the clone was taken from; the
    // clone's links keep its bytes alive
    cat.vacuum("s", keep = 1, minAgeMs = 0L)
    assert(cat.versions("s") === Seq(2L))
    assert(cat.read("c").count() === 3,
      "source vacuum must never invalidate a clone")
    // and the other direction
    cat.vacuum("c", keep = 1, minAgeMs = 0L)
    assert(cat.read("s").count() === 2)
  }

  test("constraints ride the clone; the txn registry does not") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("s", Seq((1L, 10.0)).toDF("id", "m"))
    cat.addConstraint("s", "m_pos", "m > 0")
    cat.appendBatch("s", Seq((2L, 20.0)).toDF("id", "m"), "sink#7")
    cat.cloneTable("s", "c")
    assert(cat.constraints("c") === Map("m_pos" -> "m > 0"))
    intercept[Exception](cat.appendVersioned("c", Seq((9L, -1.0)).toDF("id", "m")))
    assert(cat.sinkHighWater("c", "sink").isEmpty,
      "a clone is a NEW sink target: batch high-waters must not carry")
    assert(cat.sinkHighWater("s", "sink") === Some(7L))
    // the clone's birth gets its own commit stamp
    assert(cat.commitTimestamp("c", 1).isDefined)
  }

  test("clone refuses an existing target, loudly") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("s", Seq((1L, 10.0)).toDF("id", "m"))
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    intercept[IllegalArgumentException](cat.cloneTable("s", "t"))
    // a plain directory an older build left is a table too
    Seq((1L, 10.0)).toDF("id", "m").write.parquet(s"$root/u")
    intercept[IllegalArgumentException](cat.cloneTable("s", "u"))
  }
}
