package graft

import java.nio.file.{Files, Paths}

import graft.storage.{Bucketed, Scratch}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** Failure injection for persisted scratch state (d10's dedup state,
  * k25's versioned catalog, b2's bucketed tables). The state machines
  * are marker-gated — the marker is written LAST — so the contract is:
  *
  *   - no marker (interrupted build)  -> rebuild from an empty root,
  *     identical results;
  *   - marker + destroyed state files -> LOUD failure, never silent
  *     wrong answers;
  *   - changed input content          -> different scratch key entirely
  *     (Scratch.fingerprint folds file sizes+mtimes), so stale state is
  *     unreachable rather than merely detected.
  */
class ScratchStateSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def stateDir = Scratch.root("dedup_state", sfDir)

  private def runD10() =
    SparkEntry.queries("d10_incremental_dedup")(spark, sfDir)
      .collect().map(_.toSeq).toSeq

  test("interrupted state build (marker missing) rebuilds identically") {
    FileUtils.deleteQuietly(new java.io.File(stateDir))
    val first = runD10() // cold: builds state, writes marker last
    assert(Files.exists(Paths.get(s"$stateDir/_complete")))
    // simulate an interrupted build: marker gone, partial files present
    Files.delete(Paths.get(s"$stateDir/_complete"))
    FileUtils.deleteQuietly(new java.io.File(s"$stateDir/clusters"))
    val rebuilt = runD10()
    assert(Files.exists(Paths.get(s"$stateDir/_complete")))
    assert(rebuilt === first)
  }

  test("a versioned build torn between commits rebuilds from empty (k25)") {
    val root = Scratch.root("tas", sfDir)
    def runK25() = SparkEntry.queries("k25_time_as_of")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    FileUtils.deleteQuietly(new java.io.File(root))
    val first = runK25()
    // killed after v1 committed: no marker, no v2/v3 manifests. Rebuilt
    // on top, the overwrite would land again as v2 and "as of v2" would
    // read the base table without the appended rows.
    Files.delete(Paths.get(s"$root/_complete"))
    Seq(2, 3).foreach(v =>
      Files.delete(Paths.get(s"$root/.versions/orders_tt/v$v.manifest")))
    assert(runK25() === first)
  }

  test("a build that throws leaves no marker; the next build starts empty") {
    val input = Files.createTempDirectory("graft_scratch_input_").toString
    val root = Scratch.root("spec_throw", input)
    try {
      intercept[IllegalStateException] {
        Scratch.state("spec_throw", input) { r =>
          Files.createDirectories(Paths.get(r))
          Files.writeString(Paths.get(r, "partial"), "torn")
          throw new IllegalStateException("killed mid-build")
        }
      }
      assert(Files.exists(Paths.get(root, "partial")))
      assert(!Files.exists(Paths.get(root, "_complete")))
      val built = Scratch.state("spec_throw", input) { r =>
        assert(!Files.exists(Paths.get(r)), "the torn build's files survived")
        Files.createDirectories(Paths.get(r))
        "7"
      }
      assert(built === ((root, "7")))
      assert(Files.readString(Paths.get(root, "_complete")) === "7")
      // complete: the marker's content comes back, the build never runs
      assert(Scratch.state("spec_throw", input)(_ => fail("rebuilt")) ===
        ((root, "7")))
    } finally {
      FileUtils.deleteQuietly(new java.io.File(root))
      FileUtils.deleteQuietly(new java.io.File(input))
    }
  }

  test("corrupt state behind a valid marker fails loudly, not wrongly") {
    FileUtils.deleteQuietly(new java.io.File(stateDir))
    val first = runD10()
    assert(first.nonEmpty)
    // destroy the signature index but leave the marker claiming success
    FileUtils.deleteQuietly(new java.io.File(s"$stateDir/sigs"))
    val e = intercept[Exception] { runD10() }
    assert(e.getMessage != null)
    // clean up so later gate/bench runs rebuild from scratch
    FileUtils.deleteQuietly(new java.io.File(stateDir))
  }

  test("bucketed write skips on matching fingerprint, rebuilds on change") {
    val dir = Files.createTempDirectory("graft_bucketed_spec_").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
    try {
      Bucketed.write(spark, df, "graft_scratch_spec_t", s"$dir/t", "k", 2, "fp1")
      val wrote1 = Files.getLastModifiedTime(Paths.get(s"$dir/t.fingerprint"))
      assert(Bucketed.read(spark, "graft_scratch_spec_t").count() === 3)
      // same fingerprint: no-op (marker untouched)
      Bucketed.write(spark, df, "graft_scratch_spec_t", s"$dir/t", "k", 2, "fp1")
      assert(Files.getLastModifiedTime(Paths.get(s"$dir/t.fingerprint")) == wrote1)
      // changed fingerprint (new input content): rewritten
      val df2 = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("k", "v")
      Bucketed.write(spark, df2, "graft_scratch_spec_t", s"$dir/t", "k", 2, "fp2")
      assert(Bucketed.read(spark, "graft_scratch_spec_t").count() === 4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_scratch_spec_t")
      FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("bucketed writer rejects non-identifier table names") {
    val dir = Files.createTempDirectory("graft_bucketed_spec_").toString
    try intercept[IllegalArgumentException] {
      Bucketed.write(spark, Seq((1L, "a")).toDF("k", "v"),
        "bad name; DROP TABLE x", s"$dir/t", "k", 2, "fp")
    } finally FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("input mutation changes the scratch fingerprint") {
    val dir = Files.createTempDirectory("graft_fp_spec_")
    try {
      val f = dir.resolve("data.bin")
      Files.write(f, Array[Byte](1, 2, 3))
      val fp1 = Scratch.fingerprint(dir.toString)
      assert(fp1 === Scratch.fingerprint(dir.toString)) // stable
      Files.write(f, Array[Byte](1, 2, 3, 4)) // size change
      assert(Scratch.fingerprint(dir.toString) !== fp1)
    } finally FileUtils.deleteQuietly(dir.toFile)
  }
}
