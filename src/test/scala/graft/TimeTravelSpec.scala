package graft

import graft.storage.{ConcurrentWriteException, ParquetCatalog}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Versioned tables on the MANIFEST commit protocol: time travel,
  * migration of unversioned tables, optimistic-concurrency conflict
  * detection, zero-copy version sharing (manifest re-references, no
  * links), reference-counted vacuum, and the invariant that a new
  * commit never invalidates a retained reader. */
class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-tt").toString
    (new ParquetCatalog(spark, root), root)
  }

  test("three versioned overwrites: current follows, history readable") {
    val (cat, _) = fresh()
    (1 to 3).foreach { v =>
      val ver = cat.overwriteVersioned("t",
        Seq.tabulate(10)(i => (i.toLong, s"gen$v")).toDF("id", "gen"))
      assert(ver == v)
    }
    assert(cat.versions("t") == Seq(1L, 2L, 3L))
    assert(cat.read("t").select("gen").distinct().head().getString(0) == "gen3")
    assert(cat.readVersion("t", 1).filter(col("gen") === "gen1").count() == 10)
    assert(cat.readVersion("t", 2).filter(col("gen") === "gen2").count() == 10)
  }

  test("an unversioned table migrates as the first retained version") {
    val (cat, root) = fresh()
    // the plain directory an older build wrote
    Seq((1L, "old")).toDF("id", "gen").write.parquet(s"$root/t")
    val ver = cat.overwriteVersioned("t", Seq((1L, "new")).toDF("id", "gen"))
    assert(ver == 2 && cat.versions("t") == Seq(1L, 2L))
    assert(cat.readVersion("t", 1).head().getString(1) == "old")
    assert(cat.read("t").head().getString(1) == "new")
  }

  test("a retained reader survives a subsequent overwrite (write-once files)") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq.tabulate(100)(i => (i.toLong, "a")).toDF("id", "gen"))
    val v1 = cat.readVersion("t", 1)
    cat.overwriteVersioned("t", Seq.tabulate(100)(i => (i.toLong, "b")).toDF("id", "gen"))
    // the lazy v1 frame still reads version-1 files — nothing was deleted
    assert(v1.filter(col("gen") === "a").count() == 100)
  }

  test("concurrent writers: the second commit of the same version fails loudly") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 1.0)).toDF("id", "m"))
    // writer A and writer B both read version 1 as their snapshot
    val catA = new ParquetCatalog(spark, root)
    val catB = new ParquetCatalog(spark, root)
    val snapA = catA.currentVersion("t")
    val snapB = catB.currentVersion("t")
    assert(snapA == 1L && snapB == 1L)
    // B commits first (its merge computed FROM v1)
    val vb = catB.upsertVersioned("t", Seq((1L, 10.0)).toDF("id", "m"), Seq("id"),
      fromVersion = Some(snapB))
    assert(vb == 2L)
    // A's interleaved commit — also computed from v1 — must NOT silently
    // clobber B's: the CAS detects the race
    val e = intercept[ConcurrentWriteException] {
      catA.upsertVersioned("t", Seq((1L, 99.0)).toDF("id", "m"), Seq("id"),
        fromVersion = Some(snapA))
    }
    assert(e.getMessage.contains("another writer"))
    // B's committed state is intact; nothing of A's attempt is visible
    assert(cat.read("t").head().getDouble(1) == 10.0)
    assert(cat.versions("t") == Seq(1L, 2L))
    // A's standard recovery: re-read and retry — now lands as v3
    val va = catA.upsertVersioned("t", Seq((1L, 99.0)).toDF("id", "m"), Seq("id"),
      fromVersion = Some(catA.currentVersion("t")))
    assert(va == 3L && cat.read("t").head().getDouble(1) == 99.0)
  }

  test("vacuum keeps the newest versions and sweeps writer debris") {
    val (cat, root) = fresh()
    (1 to 4).foreach { v =>
      cat.overwriteVersioned("t", Seq((v.toLong, s"gen$v")).toDF("id", "gen"))
    }
    // a crashed write's staging dir, spelled as t's writes stage
    Files.createDirectory(Paths.get(root, ".tmp-t-18f3a2c9d4e"))
    val removed = cat.vacuum("t", keep = 2, minAgeMs = 0L)
    assert(removed == 3) // v1, v2 manifests, and the debris dir
    assert(cat.versions("t") == Seq(3L, 4L))
    assert(cat.read("t").head().getString(1) == "gen4")
    assert(intercept[IllegalArgumentException] {
      cat.readVersion("t", 1)
    }.getMessage.contains("not retained"))
  }

  test("vacuum sweeps only its own table's staging dirs") {
    val (cat, root) = fresh()
    Seq("a", "b", "a-b").foreach(t =>
      cat.overwriteVersioned(t, Seq((1L, "x")).toDF("id", "v")))
    // b's and a-b's writes in flight: their staging dirs must survive
    // a's vacuum even with no age guard; a's own crashed dir goes
    val others = Seq(".tmp-b-18f3a2c9d4e", ".tmp-a-b-18f3a2c9d4f")
    (others :+ ".tmp-a-18f3a2c9d50").foreach(d =>
      Files.createDirectory(Paths.get(root, d)))
    assert(cat.vacuum("a", minAgeMs = 0L) == 1)
    others.foreach(d => assert(Files.isDirectory(Paths.get(root, d)), d))
    assert(!Files.exists(Paths.get(root, ".tmp-a-18f3a2c9d50")))
  }

  test("skipping index rides the versioned table: commits refresh, range reads prune") {
    import graft.storage.SkippingIndex
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      Seq.tabulate(100)(i => (i.toLong, i * 10L)).toDF("id", "v"))
    cat.compact("t", rowsPerFile = 20, clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    val stats = SkippingIndex.readAt(cat.statsPath("t"))
    assert(stats.size == cat.fileCount("t").toInt)
    // pruned range read: fewer candidate files than the table holds
    assert(cat.readRange("t", Seq(("id", 10.0, 20.0))).count() == 11)
    // a new commit refreshes the index to cover exactly the new manifest
    cat.overwriteVersioned("t",
      Seq.tabulate(50)(i => (i.toLong + 1000, i * 10L)).toDF("id", "v"))
    val after = SkippingIndex.readAt(cat.statsPath("t"))
    assert(after.size == cat.fileCount("t").toInt)
    assert(cat.readRange("t", Seq(("id", 1000.0, 1004.0))).count() == 5)
  }

  test("versioned upsert: new version, old readable, untouched partitions re-referenced") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0), (4L, "d3", 4.0))
      .toDF("id", "day", "m"), Seq("day"))
    // fingerprint v1's physical files before the merge
    def fileFp(rel: String): (Long, Long) = {
      val p = Paths.get(root, ".versions", "t").resolve(rel)
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    val v1Files = cat.manifestFiles("t", 1)
    val before = v1Files.map(f => f -> fileFp(f)).toMap
    // delta touches only d2 (update) and d4 (insert)
    val delta = Seq((3L, "d2", 30.0), (9L, "d4", 90.0)).toDF("id", "day", "m")
    val v2 = cat.upsertVersioned("t", delta, Seq("id"), partitionBy = Seq("day"))
    assert(v2 == 2 && cat.versions("t") == Seq(1L, 2L))
    // old version intact
    assert(cat.readVersion("t", 1).count() == 4)
    assert(cat.readVersion("t", 1).filter(col("id") === 3)
      .select("m").head().getDouble(0) == 3.0)
    // new version = semantic merge
    val back = cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(back === Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 30.0),
      (4L, "d3", 4.0), (9L, "d4", 90.0)))
    // ZERO-COPY SHARING: v2's manifest re-references v1's files for the
    // untouched partitions — same entries, same untouched bytes
    val v2Files = cat.manifestFiles("t", 2)
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    val untouchedV1 = v1Files.filter(f => part(f) == "day=d1" || part(f) == "day=d3")
    assert(untouchedV1.nonEmpty)
    untouchedV1.foreach { f =>
      assert(v2Files.contains(f), s"v2 must re-reference untouched $f")
      assert(fileFp(f) == before(f), s"untouched $f must be byte-identical")
    }
    // touched partition gets FRESH files in v2 (v1's d2 entries absent)
    v1Files.filter(f => part(f) == "day=d2").foreach { f =>
      assert(!v2Files.contains(f), s"touched $f must be rewritten, not carried")
    }
  }

  test("reference-counted vacuum after a partition-scoped versioned merge") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0))
      .toDF("id", "day", "m"), Seq("day"))
    cat.upsertVersioned("t", Seq((2L, "d2", 20.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    cat.upsertVersioned("t", Seq((3L, "d3", 30.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    assert(cat.versions("t") == Seq(1L, 2L, 3L))
    val keepFiles = (cat.manifestFiles("t", 2) ++ cat.manifestFiles("t", 3)).toSet
    val dropOnly = cat.manifestFiles("t", 1).toSet -- keepFiles
    assert(dropOnly.nonEmpty, "v1 must own some unshared files")
    cat.vacuum("t", keep = 2, minAgeMs = 0L)
    // files referenced by ANY retained version survive...
    keepFiles.foreach { f =>
      assert(Files.exists(Paths.get(root, ".versions", "t").resolve(f)),
        s"still-referenced $f must survive vacuum")
    }
    // ...files only v1 referenced are gone
    dropOnly.foreach { f =>
      assert(!Files.exists(Paths.get(root, ".versions", "t").resolve(f)),
        s"unreferenced $f must be deleted")
    }
    // both retained versions still read correctly
    assert(cat.readVersion("t", 2).filter(col("id") === 3)
      .select("m").head().getDouble(0) == 3.0)
    assert(cat.read("t").select($"m").as[Double].collect().sorted
      === Seq(1.0, 20.0, 30.0))
  }

  test("versioned upsert migrates an unversioned table; vacuum keeps shared files") {
    val (cat, root) = fresh()
    Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "m")
      .write.partitionBy("day").parquet(s"$root/t")
    val v = cat.upsertVersioned("t", Seq((2L, "d2", 20.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    assert(v == 2 && cat.versions("t") == Seq(1L, 2L))
    assert(cat.readVersion("t", 1).filter(col("id") === 2)
      .select("m").head().getDouble(0) == 2.0)
    // dropping v1 must not damage v2's shared (re-referenced) d1 files
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    assert(cat.versions("t") == Seq(2L))
    assert(cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
      === Seq((1L, "d1", 1.0), (2L, "d2", 20.0)))
  }

  test("versioned delete: removed rows gone from current, present in history") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      .toDF("id", "day", "m"), Seq("day"))
    val (v2, removed) = cat.deleteVersioned("t", col("id") === 3L, Seq("day"))
    assert(v2 == 2 && removed == 1)
    assert(cat.read("t").count() == 2)
    assert(cat.readVersion("t", 1).count() == 3)
    // fully-emptied partition absent from the new version
    assert(cat.read("t").select($"day".cast("string")).distinct()
      .as[String].collect().sorted === Seq("d1"))
  }

  test("versioned ops default to the manifest's recorded partition layout") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d2", 3.0))
      .toDF("id", "day", "m"), Seq("day"))
    // partitionBy NOT passed: the recorded layout drives a scoped delete
    val (v2, removed) = cat.deleteVersioned("t", col("id") === 1L)
    assert(v2 == 2 && removed == 1)
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    // d2's files re-referenced (layout preserved, partition untouched)
    val shared = cat.manifestFiles("t", 1).filter(f => part(f) == "day=d2")
    assert(shared.nonEmpty &&
      shared.forall(cat.manifestFiles("t", 2).contains))
    // same for upsert without partitionBy
    val v3 = cat.upsertVersioned("t", Seq((2L, "d2", 22.0)).toDF("id", "day", "m"),
      Seq("id"))
    assert(v3 == 3)
    assert(cat.read("t").select($"m").as[Double].collect().sorted === Seq(3.0, 22.0))
    assert(cat.manifestFiles("t", 3).forall(f => part(f).startsWith("day=")))
  }

  test("a delete that empties a versioned table leaves a readable schema shell") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "d1", 1.0)).toDF("id", "day", "m"), Seq("day"))
    val (v2, removed) = cat.deleteVersioned("t", lit(true), Seq("day"))
    assert(v2 == 2 && removed == 1)
    val empty = cat.read("t")
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("id", "day", "m"))
    // and the table comes back to life on the next upsert
    val v3 = cat.upsertVersioned("t", Seq((9L, "d9", 9.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    assert(v3 == 3 && cat.read("t").count() == 1)
  }

  test("multi-level + escaped partition values through the versioned scoped merge") {
    val (cat, _) = fresh()
    // two partition levels; values with path-hostile characters and NULL
    val target = Seq(
      (1L, "d1", Some("a/b:c d%"), 1.0),
      (2L, "d1", Some("plain"), 2.0),
      (3L, "d2", None, 3.0),
      (4L, "d2", Some("x=y"), 4.0))
      .toDF("id", "day", "category", "m")
    cat.overwriteVersioned("t", target, Seq("day", "category"))
    assert(cat.read("t").count() == 4)
    // delta touches ONLY (d1, "a/b:c d%") [update] and (d2, NULL) [update]
    val delta = Seq(
      (1L, "d1", Some("a/b:c d%"), 10.0),
      (3L, "d2", Option.empty[String], 30.0))
      .toDF("id", "day", "category", "m")
    val v2 = cat.upsertVersioned("t", delta, Seq("id"),
      partitionBy = Seq("day", "category"))
    assert(v2 == 2)
    // content parity with the semantic merge
    val back = cat.read("t")
      .select($"id", $"day".cast("string"), $"category".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Option[String], Double)].collect()
    assert(back === Seq(
      (1L, "d1", Some("a/b:c d%"), 10.0), (2L, "d1", Some("plain"), 2.0),
      (3L, "d2", None, 30.0), (4L, "d2", Some("x=y"), 4.0)))
    // untouched multi-level slots re-referenced from v1 verbatim — if the
    // escaped dir-name rendering diverged from Spark's writer, the
    // touched-set diff would misfire and this sharing (or the content
    // above) would break
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    val v1Files = cat.manifestFiles("t", 1)
    val v2Files = cat.manifestFiles("t", 2).toSet
    val untouched = v1Files.filter { f =>
      val p = part(f)
      p.contains("category=plain") || p.contains("category=x%3Dy")
    }
    assert(untouched.size == 2, s"expected 2 untouched files, got $untouched")
    untouched.foreach(f => assert(v2Files.contains(f), s"$f must be re-referenced"))
    // touched slots rewritten (v1 entries absent from v2)
    v1Files.filterNot(untouched.contains).foreach(f =>
      assert(!v2Files.contains(f), s"touched $f must not be carried"))
    // old version still reads the pre-merge values
    assert(cat.readVersion("t", 1).filter($"id" === 1L)
      .select("m").head().getDouble(0) == 1.0)
  }

  test("partition layout can evolve across versions (each manifest records its own)") {
    val (cat, _) = fresh()
    val df = Seq((1L, "d1", "EU", 1.0), (2L, "d2", "US", 2.0))
      .toDF("id", "day", "region", "m")
    cat.overwriteVersioned("t", df, Seq("day"))
    // re-layout by region in version 2 — a full overwrite may change
    // partitioning; each manifest carries its own layout
    cat.overwriteVersioned("t", df, Seq("region"))
    assert(cat.manifest("t", 1).partitionBy == Seq("day"))
    assert(cat.manifest("t", 2).partitionBy == Seq("region"))
    // both versions read correctly despite different dir shapes
    Seq(1L, 2L).foreach { v =>
      assert(cat.readVersion("t", v).select($"m").as[Double]
        .collect().sorted === Seq(1.0, 2.0))
    }
    // layout-defaulted scoped ops use the CURRENT version's layout
    val v3 = cat.upsertVersioned("t", Seq((2L, "d2", "US", 20.0))
      .toDF("id", "day", "region", "m"), Seq("id"))
    assert(v3 == 3)
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    assert(cat.manifestFiles("t", 3).forall(f => part(f).startsWith("region=")))
    // EU partition re-referenced from v2 (untouched under the v2 layout)
    val v2eu = cat.manifestFiles("t", 2).filter(f => part(f) == "region=EU")
    assert(v2eu.nonEmpty && v2eu.forall(cat.manifestFiles("t", 3).contains))
  }

  test("dynamic partition overwrite on a versioned table re-references the rest") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0))
      .toDF("id", "day", "m"), Seq("day"))
    // replace ONLY d2
    cat.overwritePartitionsVersioned("t",
      Seq((99L, "d2", 99.0)).toDF("id", "day", "m"), Seq("day"))
    assert(cat.versions("t") == Seq(1L, 2L))
    assert(cat.read("t").select($"id").as[Long].collect().sorted
      === Seq(1L, 3L, 99L))
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    val v1 = cat.manifestFiles("t", 1)
    val v2 = cat.manifestFiles("t", 2).toSet
    // d1/d3 carried verbatim, d2 replaced
    v1.filter(f => part(f) != "day=d2").foreach(f => assert(v2.contains(f)))
    v1.filter(f => part(f) == "day=d2").foreach(f => assert(!v2.contains(f)))
    assert(cat.history("t").select("operation").as[String].collect()
      === Seq("overwrite", "overwritePartitions"))
    // old version keeps the original d2 rows
    assert(cat.readVersion("t", 1).count() == 3)
  }

  test("vacuum's min-age guard spares an in-flight commit's staged files") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "a")).toDF("id", "gen"))
    cat.overwriteVersioned("t", Seq((2L, "b")).toDF("id", "gen"))
    // an in-flight writer has moved a fully-written file into data/ but
    // not yet committed its manifest — indistinguishable from an orphan
    val dd = Paths.get(root, ".versions", "t", "data")
    val inflight = dd.resolve("v3-deadbeef-part-inflight.parquet")
    Files.writeString(inflight, "staged-not-yet-committed")
    // default min-age: the young file SURVIVES the orphan sweep
    cat.vacuum("t", keep = 1)
    assert(Files.exists(inflight), "a young unreferenced file must survive")
    // a genuinely dead file (older than the window) is swept
    Files.setLastModifiedTime(inflight,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24L * 3600 * 1000))
    cat.vacuum("t", keep = 1)
    assert(!Files.exists(inflight), "an old orphan must be swept")
  }

  test("vacuum concurrent with a committing writer never corrupts the committed version") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((0L, 0.0)).toDF("id", "m"))
    // writer failures must surface HERE, not as a mystery row-count
    // mismatch below (the age-guard regression this test caught hid as
    // one: vacuum's debris sweep deleted the live writer's staging dir
    // mid-write, killing the thread silently)
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    val writer = new Thread(() => {
      try {
        val wcat = new ParquetCatalog(spark, root)
        (1 to 6).foreach { i =>
          wcat.appendVersioned("t", Seq((i.toLong, i * 1.0)).toDF("id", "m"))
        }
      } catch { case t: Throwable => errs.add(t); () }
    })
    val vac = new Thread(() => {
      val vcat = new ParquetCatalog(spark, root)
      (1 to 12).foreach { _ =>
        vcat.vacuum("t", keep = 1) // default min-age guards staged files
        Thread.sleep(5)
      }
    })
    writer.start(); vac.start(); writer.join(60000); vac.join(60000)
    assert(errs.isEmpty, s"vacuum must never fail a live writer: $errs")
    // every committed row is present exactly once: vacuum never deleted
    // a file a commit was about to (or did) reference
    assert(cat.read("t").select($"id").as[Long].collect().sorted
      === (0L to 6L).toArray)
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    assert(cat.read("t").count() === 7)
  }

  test("manifest CAS protects non-merge verbs: appendBatch vs upsert race loses loudly") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 1.0)).toDF("id", "m"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    @volatile var conflicts = 0
    def retrying(body: => Unit): Unit = {
      var done = false
      while (!done)
        try { body; done = true }
        catch { case _: ConcurrentWriteException =>
          conflicts += 1 }
    }
    val a = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      retrying(c.appendBatch("t", Seq((2L, 2.0)).toDF("id", "m"), "race#0"))
    })
    val b = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      retrying { c.upsertVersioned("t", Seq((3L, 3.0)).toDF("id", "m"), Seq("id")); () }
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    // both effects landed exactly once, version chain gapless
    assert(cat.read("t").select($"id").as[Long].collect().sorted === Array(1L, 2L, 3L))
    val vs = cat.versions("t")
    assert(vs === (vs.head to vs.last), s"gapless chain expected: $vs")
    // and the replayed batch token still answers from the final state
    val cur = cat.currentVersion("t")
    assert(cat.appendBatch("t", Seq((2L, 2.0)).toDF("id", "m"), "race#0") === cur)
  }

  test("restore racing a writer is CAS-safe: one wins, the other retries") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "v1")).toDF("id", "gen"))
    cat.overwriteVersioned("t", Seq((1L, "v2")).toDF("id", "gen"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val a = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      var done = false
      while (!done)
        try { c.restore("t", 1); done = true }
        catch { case _: ConcurrentWriteException => }
    })
    val b = new Thread(() => {
      val c = new ParquetCatalog(spark, root)
      barrier.await()
      var done = false
      while (!done)
        try { c.appendVersioned("t", Seq((9L, "vx")).toDF("id", "gen")); done = true }
        catch { case _: ConcurrentWriteException => }
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    val vs = cat.versions("t")
    assert(vs === (vs.head to vs.last), s"gapless chain expected: $vs")
    // both commits exist in history exactly once, in SOME order
    val ops = cat.history("t").select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "restore") === 1 && ops.count(_ == "append") === 1, ops)
    // the table reads coherently whichever commit won the race
    val ids = cat.read("t").select($"id").as[Long].collect().sorted
    assert(ids.sameElements(Array(1L)) || ids.sameElements(Array(1L, 9L)), ids.toSeq)
  }

  test("schema evolution is metadata-only: add-column append re-references 100% of prior files") {
    val (cat, _) = fresh()
    val base = Seq((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d1", 3.0))
      .toDF("id", "day", "m")
    cat.overwriteVersioned("t", base, Seq("day"))
    val v1Files = cat.manifestFiles("t", 1).toSet
    // add a column: zero bytes of the prior files move
    val withNew = Seq((4L, "d3", 4.0, "x")).toDF("id", "day", "m", "tag")
    val v2 = cat.appendVersioned("t", withNew, evolveSchema = true)
    val v2Files = cat.manifestFiles("t", v2)
    assert(v1Files.forall(v2Files.contains),
      "an add-column commit must re-reference every prior file")
    assert(v1Files.subsetOf(v2Files.toSet) && v2Files.size > v1Files.size)
    // carried files read null for the added column; new rows carry it
    val cur = cat.read("t").orderBy("id")
      .select("id", "day", "m", "tag")
      .as[(Long, String, Double, Option[String])].collect()
    assert(cur === Seq((1L, "d1", 1.0, None), (2L, "d2", 2.0, None),
      (3L, "d1", 3.0, None), (4L, "d3", 4.0, Some("x"))))
    // time travel: version 1 keeps its original (pre-evolution) schema
    assert(cat.readVersion("t", 1).columns.toSet === Set("id", "day", "m"))
    // a DROPPED column also evolves metadata-only: staged files simply
    // lack it and read back null
    val dropped = Seq((5L, "d1", "y")).toDF("id", "day", "tag")
    val v3 = cat.appendVersioned("t", dropped, evolveSchema = true)
    assert(v2Files.forall(cat.manifestFiles("t", v3).contains))
    val r5 = cat.read("t").filter(col("id") === 5L)
      .select("m", "tag").as[(Option[Double], Option[String])].head()
    assert(r5 === ((None, Some("y"))))
    // subsequent CARRYING commits keep the union schema readable:
    // a partition-scoped merge touching one partition...
    cat.upsertVersioned("t", Seq((2L, "d2", 20.0, "z")).toDF("id", "day", "m", "tag"),
      Seq("id"), partitionBy = Seq("day"))
    val afterMerge = cat.read("t").orderBy("id")
      .select("id", "m", "tag").as[(Long, Option[Double], Option[String])].collect()
    assert(afterMerge === Seq((1L, Some(1.0), None), (2L, Some(20.0), Some("z")),
      (3L, Some(3.0), None), (4L, Some(4.0), Some("x")), (5L, None, Some("y"))))
    // ...and a partition-scoped delete
    cat.deleteVersioned("t", col("id") === 3L, Seq("day"))
    assert(cat.read("t").count() === 4)
    assert(cat.read("t").columns.toSet === Set("id", "day", "m", "tag"))
    // a TYPE change still takes the physical restage path (no carried files)
    val retyped = Seq((6, "d1", 6.0, "w")).toDF("id", "day", "m", "tag")
      .withColumn("id", col("id").cast("int"))
    val vRe = cat.appendVersioned("t", retyped, evolveSchema = true)
    assert(cat.manifestFiles("t", vRe).intersect(v2Files).isEmpty,
      "a retype must restage, not re-reference")
    assert(cat.read("t").count() === 5)
  }

  test("an add-column MERGE stays partition-scoped: untouched partitions re-referenced") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0))
      .toDF("id", "day", "m"), Seq("day"))
    val v1Files = cat.manifestFiles("t", 1)
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    // the delta touches only d2 AND brings a new column
    val delta = Seq((2L, "d2", 20.0, "x")).toDF("id", "day", "m", "tag")
    val v2 = cat.upsertVersioned("t", delta, Seq("id"),
      partitionBy = Seq("day"), evolveSchema = true)
    val v2Files = cat.manifestFiles("t", v2)
    // untouched partitions: same manifest entries, zero bytes moved
    v1Files.filter(f => part(f) != "day=d2").foreach { f =>
      assert(v2Files.contains(f), s"untouched $f must be re-referenced")
    }
    assert(v1Files.filter(f => part(f) == "day=d2")
      .forall(!v2Files.contains(_)), "touched partition must be restaged")
    // carried files read null for the evolved-in column
    val back = cat.read("t").orderBy("id")
      .select("id", "m", "tag").as[(Long, Double, Option[String])].collect()
    assert(back === Seq((1L, 1.0, None), (2L, 20.0, Some("x")), (3L, 3.0, None)))
    // a retyping merge still takes the full restage (no carried files)
    val retyped = Seq((3L, "d3", 30, "y")).toDF("id", "day", "m", "tag")
    val v3 = cat.upsertVersioned("t", retyped, Seq("id"),
      partitionBy = Seq("day"), evolveSchema = true)
    assert(cat.manifestFiles("t", v3).intersect(v2Files).isEmpty)
  }

  test("compactPartition collapses one partition's files, re-references the rest") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t",
      Seq((0L, "d1", 0.0), (100L, "d2", 1.0), (200L, "d3", 2.0))
        .toDF("id", "day", "m"), Seq("day"))
    // leave d1 fragmented: five single-row appends
    (1 to 5).foreach { i =>
      cat.appendVersioned("t",
        Seq((i.toLong, "d1", i * 1.0)).toDF("id", "day", "m").coalesce(1))
    }
    val before = cat.manifest("t", cat.currentVersion("t"))
    def part(f: String) = graft.storage.TableManifest.partitionComponent(f)
    assert(before.files.count(part(_) == "day=d1") >= 6)
    def fp(rel: String) = {
      val p = Paths.get(root, ".versions", "t").resolve(rel)
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    val untouched = before.files.filter(f => part(f) != "day=d1")
    val fps = untouched.map(f => f -> fp(f)).toMap
    val content = cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
    cat.compactPartition("t", rowsPerFile = 1000, Seq("day" -> "d1"))
    val after = cat.manifest("t", cat.currentVersion("t"))
    assert(after.meta("op") === "compact")
    assert(after.files.count(part(_) == "day=d1") === 1,
      s"d1 must collapse to one file: ${after.files.filter(part(_) == "day=d1")}")
    untouched.foreach { f =>
      assert(after.files.contains(f) && fp(f) == fps(f),
        s"untouched $f must be re-referenced byte-identical")
    }
    assert(cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect() === content)
    // the pre-compaction version still reads (write-once files)
    assert(cat.readVersion("t", before.version).count() === content.length)
  }

  test("a crashed migration (data moved, manifest never committed) recovers") {
    val (cat, root) = fresh()
    Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "m")
      .write.partitionBy("day").parquet(s"$root/t")
    // simulate the crash window: the migration wrote its marker and
    // moved the table dir into the versioned data tree, but the v1
    // manifest was never written
    val vd = Paths.get(root, ".versions", "t")
    Files.createDirectories(vd)
    Files.writeString(vd.resolve(".migrating"), Paths.get(root, "t").toString)
    Files.move(Paths.get(root, "t"), vd.resolve("data"))
    // the next touch of the name (here: listing its versions) must
    // finish the migration, not wedge
    assert(cat.versions("t") == Seq(1L))
    val v = cat.upsertVersioned("t", Seq((2L, "d2", 20.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    assert(v == 2 && cat.versions("t") == Seq(1L, 2L))
    assert(cat.read("t").select($"m").as[Double].collect().sorted
      === Seq(1.0, 20.0))
    assert(cat.readVersion("t", 1).count() == 2)
  }

  test("changesBetween replays exactly the delta a versioned merge applied") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "m"), Seq("day"))
    cat.upsertVersioned("t", Seq((2L, "d2", 20.0), (3L, "d3", 3.0))
      .toDF("id", "day", "m"), Seq("id"), partitionBy = Seq("day"))
    val feed = cat.changesBetween("t", 1, 2, Seq("id"))
      .select($"id", $"_change_type", $"m")
      .orderBy("id", "_change_type").as[(Long, String, Double)].collect()
    assert(feed === Seq(
      (2L, "update_postimage", 20.0), (2L, "update_preimage", 2.0),
      (3L, "insert", 3.0)))
    assert(cat.layout("t") === Seq("day"))
  }

  test("restore re-references a retained version's files verbatim (zero copy)") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "m"), Seq("day"))
    cat.upsertVersioned("t", Seq((2L, "d2", 20.0), (3L, "d3", 3.0))
      .toDF("id", "day", "m"), Seq("id"), partitionBy = Seq("day"))
    val v3 = cat.restore("t", 1)
    assert(v3 == 3)
    // current content == v1 content
    assert(cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
      === Seq((1L, "d1", 1.0), (2L, "d2", 2.0)))
    // the restored manifest IS v1's file list — no bytes moved
    assert(cat.manifestFiles("t", 3) == cat.manifestFiles("t", 1))
    // intermediate version still retained for audit
    assert(cat.readVersion("t", 2).count() == 3)
  }

  test("history records every commit's operation from manifest metadata") {
    val (cat, root) = fresh()
    Seq((1L, "d1", 1.0)).toDF("id", "day", "m")
      .write.partitionBy("day").parquet(s"$root/t")
    cat.upsertVersioned("t", Seq((2L, "d2", 2.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    cat.deleteVersioned("t", col("id") === 1L, Seq("day"))
    cat.appendVersioned("t", Seq((9L, "d9", 9.0)).toDF("id", "day", "m"))
    cat.restore("t", 2)
    val h = cat.history("t").select("version", "operation")
      .as[(Long, String)].collect().toSeq
    assert(h === Seq((1L, "migrate"), (2L, "merge"), (3L, "delete"),
      (4L, "append"), (5L, "restore")))
    assert(cat.history("t").columns.toSet ===
      Set("version", "operation", "n_files", "partition_by", "batch",
        "commit_ts"))
  }

  test("upsertVersionedWithRetry recovers from a lost commit race") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "m"))
    val catA = new ParquetCatalog(spark, root)
    val snapA = catA.currentVersion("t") // A pins v1...
    // ...then B commits v2 underneath
    cat.upsertVersioned("t", Seq((1L, 10.0)).toDF("id", "m"), Seq("id"))
    // A's first attempt loses the CAS; the retry re-reads v2 and
    // re-merges — NEITHER update is lost
    val v = catA.upsertVersionedWithRetry("t",
      Seq((2L, 20.0)).toDF("id", "m"), Seq("id"), fromVersion = Some(snapA))
    assert(v == 3L)
    assert(cat.read("t").orderBy("id").as[(Long, Double)].collect()
      === Seq((1L, 10.0), (2L, 20.0)))
  }

  test("commit protocol under real thread contention: no update lost, versions linear") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((-1L, -1.0)).toDF("id", "m"))
    // 4 genuinely concurrent writers x 3 upserts each, disjoint keys.
    // Every lost CAS re-reads and re-merges (the retry loop); at the end
    // ALL 12 updates must be present and the version chain must be
    // gapless — the lost-update hazard the manifest CAS exists to close.
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 4).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          val mine = new ParquetCatalog(spark, root)
          (0 until 3).foreach { k =>
            mine.upsertVersionedWithRetry("t",
              Seq((t * 10L + k, t * 10.0 + k)).toDF("id", "m"), Seq("id"),
              maxAttempts = 50)
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers hung")
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
    val back = cat.read("t").orderBy("id").as[(Long, Double)].collect()
    val expected = Seq((-1L, -1.0)) ++
      (for (t <- 0 until 4; k <- 0 until 3) yield (t * 10L + k, t * 10.0 + k))
    assert(back === expected.sortBy(_._1), "an update was lost under contention")
    // version chain is gapless and every commit is exactly one writer's
    assert(cat.versions("t") === (1L to cat.currentVersion("t")))
    assert(cat.currentVersion("t") === 13L) // 1 seed + 12 committed upserts
  }

  test("commit timestamps are stamped strictly monotonic across every verb") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "a", 1.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((2L, "b", 2.0)).toDF("id", "p", "m"), Seq("p"))
    cat.upsertVersioned("t", Seq((1L, "a", 9.0)).toDF("id", "p", "m"),
      Seq("id"), partitionBy = Seq("p"))
    cat.deleteVersioned("t", col("id") === 2L)
    cat.restore("t", 2)
    val ts = cat.versions("t").map(v => cat.commitTimestamp("t", v))
    assert(ts.forall(_.isDefined), s"every commit must be stamped: $ts")
    val vals = ts.map(_.get)
    assert(vals == vals.sorted && vals.distinct == vals,
      s"commit timestamps must be strictly increasing: $vals")
    // restore is a NEW commit stamped at now, not a replay of v2's clock
    assert(cat.commitTimestamp("t", 5).get > cat.commitTimestamp("t", 2).get)
    assert(cat.history("t").select("commit_ts").as[Long].collect().toSeq == vals)
  }

  test("versionAsOf / readAsOf resolve the highest version at or before the stamp") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))
    cat.appendVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))
    cat.deleteVersioned("t", col("id") === 1L)
    val t1 = cat.commitTimestamp("t", 1).get
    val t2 = cat.commitTimestamp("t", 2).get
    val t3 = cat.commitTimestamp("t", 3).get
    assert(cat.versionAsOf("t", t1) === 1L)
    assert(cat.versionAsOf("t", t2) === 2L)
    // between two commits: the earlier one is the table "as of" then
    assert(cat.versionAsOf("t", t2 - 1) === 1L)
    assert(cat.versionAsOf("t", t3 + 60000) === 3L)
    assert(cat.readAsOf("t", t2).as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 20.0)))
    assert(cat.readAsOf("t", t3).as[(Long, Double)].collect().toSet ===
      Set((2L, 20.0)))
    // before the table existed: loud, never a silent wrong answer
    val e = intercept[IllegalArgumentException](cat.versionAsOf("t", t1 - 1))
    assert(e.getMessage.contains("at or before"))
  }

  test("pre-timestamp manifests stay readable and count as arbitrarily old") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((1L, "x")).toDF("id", "v"))
    // simulate a manifest written before timestamps existed
    val p = Paths.get(root, ".versions", "t", "v1.manifest")
    val stripped = Files.readString(p).linesIterator
      .filterNot(_.startsWith("meta.ts=")).mkString("\n") + "\n"
    Files.writeString(p, stripped)
    assert(cat.commitTimestamp("t", 1).isEmpty)
    cat.appendVersioned("t", Seq((2L, "y")).toDF("id", "v"))
    val t2 = cat.commitTimestamp("t", 2).get
    assert(cat.versionAsOf("t", t2 - 1) === 1L,
      "an unstamped version is eligible under any bound")
    assert(cat.versionAsOf("t", t2) === 2L)
    assert(cat.history("t").filter(col("version") === 1)
      .select("commit_ts").head().isNullAt(0))
  }

  test("versionAsOf is a binary search: O(log versions) manifest parses, not a sweep") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t", Seq((0L, 0.0)).toDF("id", "m"))
    (1 to 30).foreach(i =>
      cat.appendVersioned("t", Seq((i.toLong, i * 1.0)).toDF("id", "m")))
    val t20 = cat.commitTimestamp("t", 20).get
    graft.storage.TableManifest.parses.set(0L)
    assert(cat.versionAsOf("t", t20) === 20L)
    val parsed = graft.storage.TableManifest.parses.get
    // 31 versions: 1 oldest-eligibility probe + ceil(log2(31)) = 5
    // bisection probes, one single-file parse each — the pin leaves
    // headroom but stays far under the 31+ a linear sweep (worse with
    // chain resolution) would cost
    assert(parsed <= 10, s"versionAsOf parsed $parsed manifests for 31 versions")
    // history() = one raw parse per version (delta counts fold from the
    // base's running count; no per-version chain resolution)
    graft.storage.TableManifest.parses.set(0L)
    val h = cat.history("t").collect()
    val hParsed = graft.storage.TableManifest.parses.get
    assert(h.length === 31)
    assert(hParsed <= 33, s"history parsed $hParsed manifests for 31 versions")
    // the folded n_files column equals the resolved manifests' counts
    assert(h.map(r => r.getLong(0) -> r.getLong(2)).toMap ===
      (1L to 31L).map(v => v -> cat.manifestFiles("t", v).size.toLong).toMap)
  }

  test("updateWhere: partition-scoped row-level UPDATE with history") {
    val (cat, _) = fresh()
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("id", "p", "m"), Seq("p"))
    val bFiles = cat.manifestFiles("t", 1).filter(_.contains("p=b"))
    val (v, n) = cat.updateWhere("t", col("m") > 15.0 && col("p") === "a",
      Map("m" -> (col("m") * 10)))
    assert((v, n) === (2L, 1L))
    assert(cat.read("t").select("id", "m").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0)))
    // untouched partition b's files are re-referenced verbatim
    assert(cat.manifestFiles("t", 2).filter(_.contains("p=b")) === bFiles)
    assert(cat.readVersion("t", 1).filter(col("id") === 2L)
      .select("m").as[Double].head() === 20.0, "history retained")
    assert(cat.history("t").filter(col("version") === 2)
      .select("operation").as[String].head() === "update")
    // no match: no commit
    assert(cat.updateWhere("t", col("id") === 99L,
      Map("m" -> lit(0.0))) === (2L, 0L))
    assert(cat.currentVersion("t") === 2L)
    // a partition-moving assignment relocates the row correctly
    cat.updateWhere("t", col("id") === 3L, Map("p" -> lit("c")))
    assert(cat.read("t").filter(col("id") === 3L)
      .select("p").as[String].head() === "c")
    assert(cat.read("t").count() === 3)
    // unknown assignment column is loud
    intercept[IllegalArgumentException](
      cat.updateWhere("t", lit(true), Map("nope" -> lit(1))))
  }

  test("withRetry(appendVersioned): racing writers both land, gapless chain") {
    val (cat, root) = fresh()
    cat.overwriteVersioned("t", Seq((0L, 0.0)).toDF("id", "m"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    def writer(id: Long): Thread = new Thread(() => {
      try {
        val c = new ParquetCatalog(spark, root)
        barrier.await()
        c.withRetry(5)(c.appendVersioned("t", Seq((id, id * 1.0)).toDF("id", "m")))
        ()
      } catch { case t: Throwable => errs.add(t); () }
    })
    val (a, b) = (writer(1L), writer(2L))
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(errs.isEmpty, s"retry must absorb the lost race: $errs")
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(0L, 1L, 2L))
    val vs = cat.versions("t")
    assert(vs === (vs.head to vs.last), s"gapless chain expected: $vs")
  }

  test("withRetry retries only commit races, bounded; other failures propagate") {
    val (cat, _) = fresh()
    var calls = 0
    val e = intercept[ConcurrentWriteException](cat.withRetry(3) {
      calls += 1
      throw new ConcurrentWriteException("always loses")
    })
    assert(calls === 3 && e.getMessage.contains("always loses"))
    var once = 0
    intercept[IllegalArgumentException](cat.withRetry(3) {
      once += 1
      throw new IllegalArgumentException("not a race")
    })
    assert(once === 1, "non-race failures must not be retried")
  }
}
