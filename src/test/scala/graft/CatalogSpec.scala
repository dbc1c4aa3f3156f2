package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog = new ParquetCatalog(spark,
    Files.createTempDirectory("graft-cat").toString)

  /** The partition components of the files `name`'s current manifest
    * lists (`k=v[/k2=v2]`, the hive dir each file sits in). */
  private def components(cat: ParquetCatalog, name: String): Set[String] =
    cat.manifestFiles(name, cat.currentVersion(name))
      .map(graft.storage.TableManifest.partitionComponent).toSet

  test("overwrite + read round-trips a partitioned table") {
    val cat = freshCatalog
    val df = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"))
      .toDF("id", "partition_date", "v")
    cat.overwriteVersioned("t", df, Seq("partition_date"))
    val back = cat.read("t")
    assert(back.count() === 2)
    assert(back.columns.toSet === Set("id", "partition_date", "v"))
  }

  test("overwrite is atomic: old data replaced wholesale") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a")).toDF("id", "v"))
    cat.overwriteVersioned("t", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(cat.read("t").orderBy("id").as[(Long, String)].collect()
      === Seq((2L, "b"), (3L, "c")))
  }

  test("dynamic partition overwrite touches only present partitions") {
    val cat = freshCatalog
    cat.overwriteVersioned("t",
      Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "partition_date"),
      Seq("partition_date"))
    cat.overwritePartitionsVersioned("t",
      Seq((99L, "2024-01-02")).toDF("id", "partition_date"),
      Seq("partition_date"))
    val back = cat.read("t").orderBy("id").as[(Long, String)].collect()
    assert(back === Seq((1L, "2024-01-01"), (99L, "2024-01-02")),
      "day 1 untouched, day 2 replaced")
  }

  test("upsert merges into existing table across writes") {
    val cat = freshCatalog
    cat.upsertVersioned("t", Seq((1L, "Other", 1.0), (2L, "AI/ML", 2.0))
      .toDF("id", "cat", "m"), Seq("id"))
    cat.upsertVersioned("t", Seq((1L, "Web", 10.0), (3L, "Sys", 30.0))
      .toDF("id", "cat", "m"), Seq("id"))
    val back = cat.read("t").orderBy("id").as[(Long, String, Double)].collect()
    assert(back === Seq((1L, "Web", 10.0), (2L, "AI/ML", 2.0), (3L, "Sys", 30.0)))
    // idempotence: re-upserting the same source changes nothing
    cat.upsertVersioned("t", Seq((1L, "Web", 10.0), (3L, "Sys", 30.0))
      .toDF("id", "cat", "m"), Seq("id"))
    assert(cat.read("t").orderBy("id").as[(Long, String, Double)].collect() === back)
  }

  test("latest-partition read is partition-pruned") {
    val cat = freshCatalog
    cat.overwriteVersioned("t",
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
        .toDF("id", "partition_date"),
      Seq("partition_date"))
    val latest = cat.latestPartition("t", "partition_date")
    assert(latest.select("id").as[Long].collect().sorted === Seq(2L, 3L))
    latest.collect()
    val plan = latest.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(partition_date"),
      s"equality on the partition column must prune:\n$plan")
  }

  /** (path, size, mtime) fingerprint of every data file the table's
    * current manifest lists, keyed by partition value. */
  private def fileFingerprints(cat: ParquetCatalog, root: String,
      name: String): Map[String, Set[(String, Long, Long)]] = {
    val base = java.nio.file.Paths.get(root, ".versions", name)
    cat.manifestFiles(name, cat.currentVersion(name)).map { rel =>
      val p = base.resolve(rel)
      graft.storage.TableManifest.partitionComponent(rel) ->
        ((rel, Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  test("partition-scoped upsert rewrites only touched partitions; parity with full merge") {
    val root = Files.createTempDirectory("graft-psm").toString
    val cat = new ParquetCatalog(spark, root)
    val target = Seq(
      (1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
      (3L, "2024-01-02", 3.0), (4L, "2024-01-03", 4.0))
      .toDF("id", "partition_date", "m")
    cat.overwriteVersioned("t", target, Seq("partition_date"))
    val before = fileFingerprints(cat, root, "t")
    // delta touches only 2024-01-02 (update id=3) and 2024-01-04 (insert)
    val delta = Seq((3L, "2024-01-02", 30.0), (9L, "2024-01-04", 90.0))
      .toDF("id", "partition_date", "m")
    cat.upsertVersioned("t", delta, Seq("id"), partitionBy = Seq("partition_date"))
    val after = fileFingerprints(cat, root, "t")
    // untouched partitions byte-identical (same files, sizes, mtimes)
    for (p <- Seq("partition_date=2024-01-01", "partition_date=2024-01-03"))
      assert(after(p) === before(p), s"$p must not be rewritten")
    assert(after("partition_date=2024-01-02") !== before("partition_date=2024-01-02"))
    assert(after.contains("partition_date=2024-01-04"))
    // parity with the semantic merge
    val expected = graft.operators.Upsert.merge(target, delta, Seq("id"))
      .select($"id", $"partition_date", $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(cat.read("t")
      .select($"id", $"partition_date".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
      === expected)
  }

  test("a partition-scoped upsert runs no separate count to fill its cache") {
    val root = Files.createTempDirectory("graft-psm-exec").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
        .toDF("id", "partition_date", "m"),
      Seq("partition_date"))
    val delta = Seq((2L, "2024-01-02", 20.0), (3L, "2024-01-03", 3.0))
      .toDF("id", "partition_date", "m")
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      cat.upsertVersioned("t", delta, Seq("id"), partitionBy = Seq("partition_date"))
      org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the touched-partition probe and the staged write: the merged
    // slice is computed from write-once files, so nothing is cached
    // and nothing is counted before the write
    assert(execs.get() === 2, s"${execs.get()} SQL executions")
    assert(cat.read("t").orderBy("id").select("m").as[Double].collect().toSeq ===
      Seq(1.0, 20.0, 3.0))
  }

  test("partition-moving update empties the old slot and removes its dir") {
    val root = Files.createTempDirectory("graft-psm2").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
        .toDF("id", "partition_date", "m"),
      Seq("partition_date"))
    // id=1 was the ONLY row of 2024-01-01 and the update moves it out
    cat.upsertVersioned("t",
      Seq((1L, "2024-01-05", 10.0)).toDF("id", "partition_date", "m"),
      Seq("id"), partitionBy = Seq("partition_date"))
    val back = cat.read("t")
      .select($"id", $"partition_date".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(back === Seq((1L, "2024-01-05", 10.0), (2L, "2024-01-02", 2.0)))
    assert(!components(cat, "t").contains("partition_date=2024-01-01"),
      "the fully-emptied partition must leave the manifest")
    // its dir goes once vacuum drops the version that still lists it
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    assert(!Files.exists(java.nio.file.Paths.get(root, ".versions", "t", "data",
      "partition_date=2024-01-01")), "fully-emptied partition dir must be removed")
  }

  test("partition-scoped delete rewrites only hit partitions, drops emptied dirs") {
    val root = Files.createTempDirectory("graft-psd").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq(
      (1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
      (3L, "2024-01-02", 3.0), (4L, "2024-01-03", 4.0))
      .toDF("id", "partition_date", "m"), Seq("partition_date"))
    val before = fileFingerprints(cat, root, "t")
    // hits one row of day 1 and ALL of day 2
    val (_, removed) = cat.deleteVersioned("t",
      col("id") === 1L || col("partition_date") === "2024-01-02",
      partitionBy = Seq("partition_date"))
    assert(removed === 2L)
    val after = fileFingerprints(cat, root, "t")
    assert(after("partition_date=2024-01-03") === before("partition_date=2024-01-03"),
      "unhit partition must not be rewritten")
    assert(!after.contains("partition_date=2024-01-02"),
      "fully-deleted partition dir must be removed")
    assert(cat.read("t")
      .select($"id", $"partition_date".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect()
      === Seq((2L, "2024-01-01", 2.0), (4L, "2024-01-03", 4.0)))
    // no-hit delete is a no-op returning 0
    assert(cat.deleteVersioned("t", col("id") === 999L, Seq("partition_date"))._2 === 0L)
  }

  test("index survives the catalog lifecycle: compact re-collects, append refreshes, range read prunes") {
    import graft.storage.SkippingIndex
    val root = Files.createTempDirectory("graft-idx").toString
    val cat = new ParquetCatalog(spark, root)
    val sp = cat.statsPath("t")
    cat.overwriteVersioned("t", (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    cat.index("t", Seq("id"))
    // compact into a clustered layout: the index must be RE-collected
    // over the new files automatically (overwrite path)
    cat.compact("t", rowsPerFile = 100, clusterBy = Seq("id"))
    val stats = SkippingIndex.readAt(sp)
    assert(stats.size == cat.fileCount("t").toInt,
      "compact must leave a fresh index covering exactly the new files")
    // range read through the catalog opens only intersecting files
    val files = cat.dataFilesAbs("t", cat.currentVersion("t"))
    assert(SkippingIndex.candidateFilesAt(sp, files, Seq(("id", 150.0, 250.0)))
      .size < stats.size)
    val got = cat.readRange("t", Seq(("id", 150.0, 250.0)))
    assert(got.count() == 101)
    // append: incremental refresh — prior entries survive verbatim
    cat.appendVersioned("t", Seq((5000L, "x")).toDF("id", "v"))
    val after = SkippingIndex.readAt(sp)
    assert(after.size == stats.size + 1)
    assert(stats.toSet.subsetOf(after.toSet))
    // unindexed fallback: same answers via plain scan + filter
    val cat2root = Files.createTempDirectory("graft-idx2").toString
    val cat2 = new ParquetCatalog(spark, cat2root)
    cat2.overwriteVersioned("u", (0 until 100).map(i => (i.toLong, "y")).toDF("id", "v"))
    assert(cat2.readRange("u", Seq(("id", 10.0, 20.0))).count() == 11)
  }

  test("partition-scoped upsert keeps the index reconciled") {
    import graft.storage.SkippingIndex
    val root = Files.createTempDirectory("graft-idx3").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "m"),
      Seq("day"))
    cat.index("t", Seq("id"))
    cat.upsertVersioned("t",
      Seq((2L, "d2", 20.0), (3L, "d3", 3.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    val stats = SkippingIndex.readAt(cat.statsPath("t"))
    assert(stats.size == cat.fileCount("t").toInt,
      "index must cover exactly the post-merge files")
    // every indexed path is a live file (no stale entries for rewritten d2)
    val live = cat.dataFilesAbs("t", cat.currentVersion("t")).toSet
    stats.foreach(fs => assert(live.contains(fs.file), fs.file))
  }

  test("touched-partition predicate statically prunes the target scan (plan pin)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft-pp").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      (0 until 12).map(i => (i.toLong, s"d${i % 4}", i * 1.0))
        .toDF("id", "day", "m"),
      Seq("day"))
    // the OR-of-ANDs literal predicate the partition-scoped upsert builds
    val pred = cat.partitionPredicate(Seq("day"), Seq(Seq("d2")))
    val slice = cat.read("t").filter(pred)
    slice.collect()
    val scans = slice.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val planStr = scans.head.toString
    assert(planStr.contains("PartitionFilters:") && planStr.contains("d2"),
      s"predicate must reach PartitionFilters:\n$planStr")
    // the metric proof: only d2's files were opened, not all 4 partitions
    val numFiles = scans.map(_.metrics("numFiles").value).sum
    val d2Files = cat.manifestFiles("t", cat.currentVersion("t"))
      .count(f => graft.storage.TableManifest.partitionComponent(f) == "day=d2")
    val allFiles = cat.fileCount("t")
    assert(numFiles == d2Files && numFiles < allFiles,
      s"scan opened $numFiles files; d2 has $d2Files of $allFiles total")
  }

  test("partition-scoped upsert and delete handle NULL partition values") {
    val root = Files.createTempDirectory("graft-psnull").toString
    val cat = new ParquetCatalog(spark, root)
    val target = Seq((1L, Some("d1"), 1.0), (2L, None, 2.0), (3L, None, 3.0))
      .toDF("id", "day", "m")
    cat.overwriteVersioned("t", target, Seq("day"))
    // update a row in the NULL partition (null-safe <=> matching)
    cat.upsertVersioned("t",
      Seq((2L, Option.empty[String], 20.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    val back = cat.read("t")
      .select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, Option[String], Double)].collect()
    assert(back === Seq((1L, Some("d1"), 1.0), (2L, None, 20.0), (3L, None, 3.0)))
    // delete everything in the NULL partition: it must leave the manifest
    val (_, removed) = cat.deleteVersioned("t", col("day").isNull, Seq("day"))
    assert(removed === 2L)
    assert(!components(cat, "t").contains("day=__HIVE_DEFAULT_PARTITION__"),
      "emptied default partition must be dropped")
    assert(cat.read("t").count() === 1)
  }

  test("NULL merge keys match null-safely in the touched-partition probe") {
    val root = Files.createTempDirectory("graft-nullkey").toString
    val cat = new ParquetCatalog(spark, root)
    // key is NOT a partition column; one target row has a NULL key
    cat.overwriteVersioned("t",
      Seq((Some(1L), "d1", 1.0), (Option.empty[Long], "d2", 2.0))
        .toDF("k", "day", "m"),
      Seq("day"))
    // the NULL-keyed source row MATCHES the NULL-keyed target row (<=>)
    // and moves it to d3 — the probe must put d2 in the touched set, or
    // the old row survives as a duplicate
    cat.upsertVersioned("t",
      Seq((Option.empty[Long], "d3", 20.0)).toDF("k", "day", "m"),
      Seq("k"), partitionBy = Seq("day"))
    val back = cat.read("t")
      .select($"k", $"day".cast("string"), $"m")
      .orderBy($"k".asc_nulls_last).as[(Option[Long], String, Double)].collect()
    assert(back === Seq((Some(1L), "d1", 1.0), (None, "d3", 20.0)),
      s"NULL-keyed row must be UPDATED (moved), not duplicated: ${back.mkString}")
    assert(!components(cat, "t").contains("day=d2"),
      "the NULL-keyed row's old partition must be emptied and dropped")
  }

  test("timestamp partition values render as Spark writes the dirs") {
    import java.sql.Timestamp
    val root = Files.createTempDirectory("graft-tsp").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2.0))
        .toDF("id", "ts_p", "m"),
      Seq("ts_p"))
    // the update MOVES id=1 out of its partition: the emptied slot must
    // be found and dropped, which requires the computed dir name to
    // match Spark's (java.sql.Timestamp.toString's trailing ".0" does
    // not — the ADVICE r9 defect)
    cat.upsertVersioned("t",
      Seq((1L, Timestamp.valueOf("2024-01-03 00:00:00"), 10.0))
        .toDF("id", "ts_p", "m"),
      Seq("id"), partitionBy = Seq("ts_p"))
    val dirs = components(cat, "t").filter(_.startsWith("ts_p=")).toList.sorted
    assert(dirs.size == 2 && !dirs.exists(_.contains("2024-01-01")),
      s"emptied timestamp partition must be dropped; have: $dirs")
    assert(cat.read("t").count() == 2)
  }

  test("a delete that empties every partition leaves a readable schema shell") {
    val root = Files.createTempDirectory("graft-delall").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq((1L, "d1", 1.0), (2L, "d2", 2.0))
      .toDF("id", "day", "m"), Seq("day"))
    assert(cat.deleteVersioned("t", lit(true), Seq("day"))._2 === 2L)
    val empty = cat.read("t")
    assert(empty.count() === 0)
    assert(empty.columns.toSet === Set("id", "day", "m"))
    // and the table revives cleanly on the next partition-scoped upsert
    cat.upsertVersioned("t", Seq((9L, "d9", 9.0)).toDF("id", "day", "m"),
      Seq("id"), partitionBy = Seq("day"))
    assert(cat.read("t").select($"id").as[Long].collect() === Seq(9L))
  }

  test("append rejects schema drift loudly; evolveSchema unions by name") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      cat.appendVersioned("t", Seq((2L, 5.0)).toDF("id", "w"))
    }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("w") && e.getMessage.contains("v"))
    // explicit evolution: union-by-name, nulls fill both directions
    cat.appendVersioned("t", Seq((2L, 5.0)).toDF("id", "w"), evolveSchema = true)
    val back = cat.read("t").orderBy("id")
      .select("id", "v", "w").as[(Long, Option[String], Option[Double])].collect()
    assert(back === Seq((1L, Some("a"), None), (2L, None, Some(5.0))))
    assert(cat.read("t").columns.toSet === Set("id", "v", "w"))
  }

  test("append rejects a frame with duplicated column names as drift, not a writer crash") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "a")).toDF("id", "v"))
    // duplicate names collapse in a name->type map: the dedup'd shape
    // matches the table, so only a field-count guard catches it here
    val dup = Seq((2L, "b")).toDF("id", "v").select($"id", $"v", $"v")
    val e = intercept[IllegalArgumentException] { cat.appendVersioned("t", dup) }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("duplicated in incoming: v"), e.getMessage)
  }

  test("identical re-append to a string-date-partitioned table succeeds on BOTH tiers") {
    val root = Files.createTempDirectory("graft-ptol").toString
    val cat = new ParquetCatalog(spark, root)
    val frame = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
      .toDF("id", "partition_date", "m")
    // a plain directory an older build left: once migrated, the string
    // date column reads back as DATE (hive partition-type inference);
    // the identical frame must still append
    frame.write.partitionBy("partition_date").parquet(s"$root/t")
    cat.appendVersioned("t", frame)
    assert(cat.read("t").count() === 4)
    // and it reused the same dirs — no split logical partitions
    assert(components(cat, "t").toList.sorted ===
      List("partition_date=2024-01-01", "partition_date=2024-01-02"))
    // versioned tier: same contract (this is the appendVersioned path)
    cat.overwriteVersioned("u", frame, Seq("partition_date"))
    cat.appendVersioned("u", frame)
    assert(cat.read("u").count() === 4)
  }

  test("appendBatch batch 2 lands on a string-date-partitioned versioned table") {
    val cat = freshCatalog
    val b0 = Seq((1L, "2024-01-01", 1.0)).toDF("id", "partition_date", "m")
    val b1 = Seq((2L, "2024-01-01", 2.0)).toDF("id", "partition_date", "m")
    cat.overwriteVersioned("ev", b0, Seq("partition_date"))
    // batch 2 previously threw a false schema drift (date<-string read-back)
    cat.appendBatch("ev", b1, "ckpt#1")
    assert(cat.read("ev").count() === 2)
    cat.appendBatch("ev", b1, "ckpt#1") // replay stays a no-op
    assert(cat.read("ev").count() === 2)
  }

  test("non-round-trip partition retypes and non-partition retypes still fail loudly") {
    val cat = freshCatalog
    cat.overwriteVersioned("t",
      Seq((1L, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "day"),
      Seq("day"))
    // timestamp renders a different dir name than date — must stay loud
    val e = intercept[IllegalArgumentException] {
      cat.appendVersioned("t",
        Seq((2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
          .toDF("id", "day"))
    }
    assert(e.getMessage.contains("day: date->timestamp"), e.getMessage)
    // a non-partition retype reports ONLY itself: the compatible
    // partition column stays out of the list, empty sections are dropped
    val e2 = intercept[IllegalArgumentException] {
      cat.appendVersioned("t", Seq(("x", "2024-01-03")).toDF("id", "day"))
    }
    assert(e2.getMessage.contains("id: bigint->string"), e2.getMessage)
    assert(!e2.getMessage.contains("day:") && !e2.getMessage.contains("missing"),
      e2.getMessage)
  }

  test("readPoint prunes with parquet native bloom filters on both tiers") {
    val root = Files.createTempDirectory("graft-bloom")
    val cat = new ParquetCatalog(spark, root.toString,
      bloomFor = Seq("id"), bloomNdv = 10000L)
    // RANDOM (round-robin) layout: every file's [min,max] spans the key
    // space, so min/max stats cannot prune a point probe — only a bloom
    // can say "not in this file"
    val df = (0 until 20000).map(i => (i.toLong, i % 97)).toDF("id", "g")
      .repartition(20)
    // a plain directory an older build wrote with blooms: its files keep
    // pruning once migrated
    df.write.option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.expected.ndv#id", "10000")
      .parquet(root.resolve("t").toString)
    assert(cat.fileCount("t") >= 10)
    val cand = cat.pointCandidates("t", "id", 12345L)
    assert(cand.nonEmpty && cand.size < cat.fileCount("t") / 2,
      s"bloom must prune most files; kept ${cand.size} of ${cat.fileCount("t")}")
    assert(cat.readPoint("t", "id", 12345L).select("id", "g")
      .as[(Long, Int)].collect() === Array((12345L, 12345 % 97)))
    // a missing key reads empty through the same path
    assert(cat.readPoint("t", "id", 999999L).count() === 0)
    // versioned tier: candidates resolve through the current manifest
    cat.overwriteVersioned("u", df)
    assert(cat.readPoint("u", "id", 777L).select("id").as[Long].collect()
      === Array(777L))
    assert(cat.pointCandidates("u", "id", 777L).size <
      cat.manifest("u", cat.currentVersion("u")).files.size)
    // string keys hash through BINARY
    val cats = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-bls").toString,
      bloomFor = Seq("k"), bloomNdv = 10000L)
    cats.overwriteVersioned("s", (0 until 5000).map(i => (s"key-$i", i))
      .toDF("k", "v").repartition(10))
    assert(cats.pointCandidates("s", "k", "key-321").size < 10)
    assert(cats.readPoint("s", "k", "key-321").select("v").as[Int].collect()
      === Array(321))
    // a table written WITHOUT blooms keeps every file (advisory pruning)
    val plain = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-nb").toString)
    plain.overwriteVersioned("t", df)
    assert(plain.pointCandidates("t", "id", 12345L).size === plain.fileCount("t"))
    assert(plain.readPoint("t", "id", 12345L).count() === 1)
  }

  test("appends write O(delta) manifest bytes, snapshot every Nth commit, vacuum materializes") {
    val root = Files.createTempDirectory("graft-dm")
    val cat = new ParquetCatalog(spark, root.toString)
    val vd = root.resolve(".versions").resolve("t")
    def manifestText(v: Long) = Files.readString(vd.resolve(s"v$v.manifest"))
    // v1: a snapshot with 30 file entries
    cat.overwriteVersioned("t",
      (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("id", "m").repartition(30))
    assert(cat.manifestFiles("t", 1).size === 30)
    // v2..v10: nine single-file appends, each an O(1)-entry DELTA
    (1 to 9).foreach { i =>
      cat.appendVersioned("t",
        Seq((1000L + i, i * 1.0)).toDF("id", "m").coalesce(1))
    }
    (2L to 10L).foreach { v =>
      val txt = manifestText(v)
      assert(txt.contains(s"base=${v - 1}"), s"v$v must be a delta")
      assert(txt.linesIterator.count(_.startsWith("f ")) === 1,
        s"v$v must list only its own added file")
      assert(Files.size(vd.resolve(s"v$v.manifest")) <
        Files.size(vd.resolve("v1.manifest")),
        s"delta v$v must be smaller than the snapshot")
    }
    // resolution gives full snapshot semantics at every version
    assert(cat.manifestFiles("t", 10).size === 39)
    assert(cat.read("t").count() === 309)
    assert(cat.readVersion("t", 5).count() === 304)
    // the 10th append hits the snapshot interval: self-contained again
    cat.appendVersioned("t", Seq((2000L, 0.0)).toDF("id", "m").coalesce(1))
    val snap = manifestText(11)
    assert(!snap.contains("base="), "every Nth commit must be a snapshot")
    assert(snap.linesIterator.count(_.startsWith("f ")) === 40)
    // vacuum keep=2: v10 is a delta whose base is dropped — it gets
    // materialized in place; both retained versions stay readable
    cat.vacuum("t", keep = 2, minAgeMs = 0L)
    assert(cat.versions("t") === Seq(10L, 11L))
    assert(!manifestText(10).contains("base="),
      "a retained delta must be materialized when its base is vacuumed")
    assert(cat.readVersion("t", 10).count() === 309)
    assert(cat.read("t").count() === 310)
    // and the txn registry still rides resolution: a replayed batch
    // appended through the delta chain stays a no-op
    cat.appendBatch("t", Seq((3000L, 3.0)).toDF("id", "m"), "dm#0")
    val cur = cat.currentVersion("t")
    assert(cat.appendBatch("t", Seq((3000L, 3.0)).toDF("id", "m"), "dm#0") === cur)
  }

  test("mergeInto executes literal MERGE text against catalog tables on both tiers") {
    val root = Files.createTempDirectory("graft-mi").toString
    val cat = new ParquetCatalog(spark, root)
    val target = Seq((1L, "Other", 1.0), (2L, "KEEP", 2.0))
      .toDF("id", "category", "metric")
    val text = (t: String) => s"""
      MERGE INTO $t AS target
      USING src_mi AS source
      ON target.id = source.id
      WHEN MATCHED THEN UPDATE SET
        metric = source.metric,
        category = CASE WHEN target.category = 'Other'
                        THEN source.category ELSE target.category END
      WHEN NOT MATCHED THEN INSERT *"""
    Seq((2L, "NEW", 20.0), (3L, "NEW", 30.0)).toDF("id", "category", "metric")
      .createOrReplaceTempView("src_mi")
    // a plain directory an older build left: migrated as v1, merged as v2
    target.write.parquet(s"$root/t")
    assert(cat.mergeInto(text("t")) === 2L)
    val expected = Seq((1L, "Other", 1.0), (2L, "KEEP", 20.0), (3L, "NEW", 30.0))
    assert(cat.read("t").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq === expected)
    // versioned tier: the merge is an audited commit; v1 stays readable
    cat.overwriteVersioned("u", target)
    assert(cat.mergeInto(text("u")) === 2L)
    assert(cat.read("u").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq === expected)
    assert(cat.history("u").filter(col("version") === 2)
      .select("operation").head().getString(0) === "merge")
    assert(cat.readVersion("u", 1).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "Other", 1.0), (2L, "KEEP", 2.0)))
  }

  test("latestPartitionValue resolves from metadata alone on both tiers") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-lpv")
    val cat = new ParquetCatalog(spark, root.toString)
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0),
      (3L, "2024-01-03", 3.0)).toDF("id", "day", "m")
    // a plain directory an older build left, migrated on first touch
    df.write.partitionBy("day").parquet(root.resolve("t").toString)
    cat.overwriteVersioned("u", df, Seq("day"))
    // corrupt EVERY data file: any resolution path that opens one blows up
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .foreach(p => Files.writeString(p, "garbage"))
    finally s.close()
    assert(cat.latestPartitionValue("t", "day") === Some("2024-01-03"))
    assert(cat.latestPartitionValue("u", "day") === Some("2024-01-03"))
    // a non-partition column has no metadata to answer from
    assert(cat.latestPartitionValue("t", "m") === None)
    assert(cat.latestPartitionValue("u", "m") === None)
  }

  test("latestPartition orders numeric partitions numerically and prunes the scan") {
    val lpRoot = Files.createTempDirectory("graft-lpn")
    val cat = new ParquetCatalog(spark, lpRoot.toString)
    // bucket 10 > bucket 9 numerically; "10" < "9" lexicographically
    val df = (1 to 30).map(i => (i.toLong, i % 3 match {
      case 0 => 2 case 1 => 9 case 2 => 10
    }, i * 1.0)).toDF("id", "bucket", "m")
    cat.overwriteVersioned("t", df, Seq("bucket"))
    assert(cat.latestPartitionValue("t", "bucket") === Some("10"))
    val slice = cat.latestPartition("t", "bucket")
    val got = slice.select("id").as[Long].collect().sorted
    assert(got === (1 to 30).filter(_ % 3 == 2).map(_.toLong).toArray)
    // the equality filter statically prunes: the scan opens only the
    // latest partition's files
    slice.collect()
    val scan = slice.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val latestFiles = cat.manifestFiles("t", cat.currentVersion("t"))
      .count(f => graft.storage.TableManifest.partitionComponent(f) == "bucket=10")
    assert(scan.metrics("numFiles").value === latestFiles,
      s"scan opened ${scan.metrics("numFiles").value} files, latest partition has $latestFiles")
    // null partition values are ignored by resolution
    val withNull = Seq((99L, null.asInstanceOf[String], 9.9), (100L, "d2", 1.0))
      .toDF("id", "day", "m")
    cat.overwriteVersioned("n", withNull, Seq("day"))
    assert(cat.latestPartitionValue("n", "day") === Some("d2"))
  }

  test("latestPartitionValue honors a recorded STRING partition type (lexicographic, like max(col))") {
    val cat = freshCatalog
    // with partition-type inference off, numeric-looking dir strings
    // stay STRING on read-back — the column's logical max is
    // lexicographic ("7" > "10"), and resolution must match it
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try {
      cat.overwriteVersioned("s",
        Seq((1L, "7", 1.0), (2L, "10", 2.0)).toDF("id", "bucket", "m"),
        Seq("bucket"))
      // a metadata-only ALTER records the union schema — bucket: string
      cat.addColumn("s", "tag", org.apache.spark.sql.types.StringType)
      val t = cat.read("s")
      assert(t.schema("bucket").dataType === org.apache.spark.sql.types.StringType)
      val colMax = t.select(max(col("bucket"))).head().getString(0)
      assert(colMax === "7", "string column's logical max is lexicographic")
      assert(cat.latestPartitionValue("s", "bucket") === Some("7"),
        "metadata resolution must mirror the recorded string type's order")
      assert(cat.latestPartition("s", "bucket").select("id")
        .as[Long].collect().toSeq === Seq(1L))
    } finally
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
  }

  test("evolveSchema append missing a partition column falls back to the full restage") {
    val cat = freshCatalog
    cat.overwriteVersioned("fb", Seq((1L, "a", 1.0)).toDF("id", "p", "m"), Seq("p"))
    // add/drop-only drift, but the frame DROPS the partition column —
    // the metadata-only branch would partitionBy a missing column; it
    // must fall through to the union-by-name restage (null partition)
    cat.appendVersioned("fb", Seq((2L, "x")).toDF("id", "tag"), Seq("p"),
      evolveSchema = true)
    val out = cat.read("fb")
    assert(out.count() === 2)
    assert(out.filter(col("id") === 2L).select("p").head().isNullAt(0))
    assert(out.filter(col("id") === 2L).select("tag").as[String].head() === "x")
    assert(out.filter(col("id") === 1L).select("m").as[Double].head() === 1.0)
  }

  test("merge match probe is index-pruned to the delta's key range") {
    import graft.storage.SkippingIndex
    val root = Files.createTempDirectory("graft-ipm").toString
    val cat = new ParquetCatalog(spark, root)
    val full = (0 until 1000).map(i => (i.toLong, s"d${i / 250}", i * 1.0))
      .toDF("id", "day", "m")
    cat.overwriteVersioned("t", full, Seq("day"))
    // key-clustered files + a skipping index over the merge key
    cat.compact("t", rowsPerFile = 100, partitionBy = Seq("day"),
      clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    val allFiles = cat.fileCount("t")
    // delta confined to ids [10, 20] — files outside that key range must
    // never be OPENED by the matched-key probe
    val delta = Seq((10L, "d0", 99.0), (20L, "d0", 98.0))
      .toDF("id", "day", "m")
    val probe = cat.matchScanFrame("t", delta, Seq("id"), cat.read("t"))
    val opened = probe.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(opened.size < allFiles,
      s"probe opened ${opened.size} of $allFiles files — no pruning happened")
    // cross-check against the stats: every skipped file's [min,max]
    // really is outside the delta's range
    val stats = SkippingIndex.readAt(cat.statsPath("t"))
    stats.foreach { fs =>
      val name = fs.file.substring(fs.file.lastIndexOf('/') + 1)
      val cs = fs.cols.find(_.column == "id").get
      val outside = cs.max.toDouble < 10.0 || cs.min.toDouble > 20.0
      if (outside && !cs.hasNulls)
        assert(!opened.contains(name), s"out-of-range file $name was opened")
    }
    // and the merge result (with an insert outside the range too) is
    // unchanged by pruning
    val merge = delta.unionByName(Seq((2000L, "d1", 1.0)).toDF("id", "day", "m"))
    cat.upsertVersioned("t", merge, Seq("id"), partitionBy = Seq("day"))
    val expected = graft.operators.Upsert.merge(full, merge, Seq("id"))
      .orderBy("id").select($"id", $"day", $"m")
      .as[(Long, String, Double)].collect()
    assert(cat.read("t").select($"id", $"day".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Double)].collect() === expected)
  }

  test("row-level UPDATE/DELETE probe is index-pruned to the WHERE's range") {
    import graft.storage.SkippingIndex
    val root = Files.createTempDirectory("graft-upp").toString
    val cat = new ParquetCatalog(spark, root)
    val full = (0 until 1000).map(i => (i.toLong, s"d${i / 250}", i * 1.0))
      .toDF("id", "day", "m")
    cat.overwriteVersioned("t", full, Seq("day"))
    cat.compact("t", rowsPerFile = 100, partitionBy = Seq("day"),
      clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    val allFiles = cat.fileCount("t")
    // a point UPDATE's probe must not open the whole table
    val opened = cat.probeCandidates("t",
        col("id") === 137L && col("m") > 0.0)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(opened.size < allFiles,
      s"probe opened ${opened.size} of $allFiles files — no pruning happened")
    // cross-check vs the stats: every file whose id-range excludes 137
    // stays closed
    val stats = SkippingIndex.readAt(cat.statsPath("t"))
    stats.foreach { fs =>
      val name = fs.file.substring(fs.file.lastIndexOf('/') + 1)
      val cs = fs.cols.find(_.column == "id").get
      if ((cs.max.toDouble < 137.0 || cs.min.toDouble > 137.0) && !cs.hasNulls)
        assert(!opened.contains(name), s"out-of-range file $name was opened")
    }
    // an OR at the top level implies no single range — the probe must
    // fall back to the full scan rather than prune unsoundly
    assert(cat.probeCandidates("t",
      col("id") === 1L || col("m") > 990.0).size === allFiles)
    // end-to-end: results are identical to the unpruned semantics
    val (_, n) = cat.updateWhere("t", col("id") === 137L,
      Map("m" -> lit(-1.0)))
    assert(n === 1L)
    assert(cat.read("t").filter(col("m") < 0).select("id")
      .as[Long].collect() === Array(137L))
    assert(cat.read("t").count() === 1000)
    val (_, removed) = cat.deleteVersioned("t", col("id") >= 990L)
    assert(removed === 10L)
    assert(cat.read("t").count() === 990)
    // the SQL text door takes the same pruned probe (expr-parsed WHERE)
    val (_, n2) = cat.updateWhere("t",
      org.apache.spark.sql.functions.expr("id = 5 AND m >= 0"),
      Map("m" -> lit(-2.0)))
    assert(n2 === 1L)
    assert(cat.read("t").filter(col("m") === -2.0).select("id")
      .as[Long].collect() === Array(5L))
  }

  test("UPDATE/DELETE probe bloom-prunes on table-declared blooms, no index") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((0L, "d0", 0.0)).toDF("id", "day", "m"),
      Seq("day"))
    cat.setTableProperty("t", ParquetCatalog.BloomForProp, "id")
    // random layout: round-robin files whose id ranges all span the key
    // space, and no min/max index — only the declared blooms can prune
    cat.appendVersioned("t", (1 until 2000).map(i => (i.toLong, s"d${i % 2}", i * 1.0))
      .toDF("id", "day", "m").repartition(8))
    assert(!graft.storage.SkippingIndex.existsAt(cat.statsPath("t")))
    val allFiles = cat.fileCount("t")
    val opened = cat.probeCandidates("t", col("id") === 137L)
    assert(opened.size < allFiles,
      s"probe opened ${opened.size} of $allFiles files — the declared blooms did not prune")
    // end-to-end through the pruned probe
    val (_, n) = cat.updateWhere("t", col("id") === 137L, Map("m" -> lit(-1.0)))
    assert(n === 1L)
    assert(cat.read("t").filter(col("m") < 0).select("id").as[Long].collect() ===
      Array(137L))
    assert(cat.read("t").count() === 2000)
  }

  test("a DATE-range DELETE probe is index-pruned on a date-clustered table") {
    import graft.storage.SkippingIndex
    val cat = freshCatalog
    val full = spark.range(1000).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") / 10).cast("int")).as("d"),
      concat(lit("p"), (col("id") / 250).cast("int").cast("string")).as("day"))
    cat.overwriteVersioned("t", full, Seq("day"))
    cat.compact("t", rowsPerFile = 100, partitionBy = Seq("day"),
      clusterBy = Seq("d"))
    cat.index("t", Seq("d"))
    val allFiles = cat.fileCount("t")
    // the string literal reaches the probe as a coercion cast, folded
    // to a DATE literal (epoch days) that prunes INT32:DATE stats
    val where = col("d") >= "2024-03-31"
    val opened = cat.probeCandidates("t", where)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(opened.size < allFiles,
      s"probe opened ${opened.size} of $allFiles files — no pruning happened")
    // soundness: every file whose date range reaches the bound is opened
    val bound = java.time.LocalDate.parse("2024-03-31").toEpochDay
    SkippingIndex.readAt(cat.statsPath("t")).foreach { fs =>
      val name = fs.file.substring(fs.file.lastIndexOf('/') + 1)
      val cs = fs.cols.find(_.column == "d").get
      assert(cs.typ === "INT32:DATE")
      if (cs.max.toLong >= bound) assert(opened.contains(name), s"$name was skipped")
    }
    val (_, removed) = cat.deleteVersioned("t", where)
    assert(removed === 100L)
    assert(cat.read("t").count() === 900)
    assert(cat.read("t").filter(col("d") >= "2024-03-31").isEmpty)
  }

  test("scoped ops handle multi-level and path-hostile partition values") {
    val root = Files.createTempDirectory("graft-ml").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq(
      (1L, "d1", Some("a/b:c d%"), 1.0), (2L, "d1", Some("plain"), 2.0),
      (3L, "d2", None, 3.0))
      .toDF("id", "day", "category", "m"), Seq("day", "category"))
    // update moves id=1 OUT of its hostile-value slot: the emptied
    // two-level slot must leave the manifest
    cat.upsertVersioned("t", Seq((1L, "d9", Some("moved"), 10.0))
      .toDF("id", "day", "category", "m"),
      Seq("id"), partitionBy = Seq("day", "category"))
    val back = cat.read("t")
      .select($"id", $"day".cast("string"), $"category".cast("string"), $"m")
      .orderBy("id").as[(Long, String, Option[String], Double)].collect()
    assert(back === Seq((1L, "d9", Some("moved"), 10.0),
      (2L, "d1", Some("plain"), 2.0), (3L, "d2", None, 3.0)))
    // the escaped slot is gone; d1 itself survives (still holds 'plain')
    def dirsUnder(rel: String): Set[String] =
      components(cat, "t").filter(_.startsWith(rel + "/"))
        .map(_.stripPrefix(rel + "/"))
    assert(dirsUnder("day=d1") == Set("category=plain"),
      s"hostile-value dir must be dropped: ${dirsUnder("day=d1")}")
    // a delete that empties d2 entirely drops BOTH levels; vacuum then
    // removes the emptied tree down to the day level
    assert(cat.deleteVersioned("t", col("day") === "d2", Seq("day", "category"))._2 === 1L)
    assert(dirsUnder("day=d2").isEmpty)
    cat.vacuum("t", keep = 1, minAgeMs = 0L)
    assert(!Files.exists(java.nio.file.Paths.get(root, ".versions", "t", "data", "day=d2")),
      "emptied two-level partition tree must be removed to the day level")
  }

  test("layout guard: ops shaped differently from the on-disk layout fail loudly") {
    val cat = freshCatalog
    cat.overwriteVersioned("t", Seq((1L, "d1", "EU", 1.0), (2L, "d2", "US", 2.0))
      .toDF("id", "day", "region", "m"), Seq("day"))
    // scoped upsert with the WRONG partition column
    val e1 = intercept[IllegalArgumentException] {
      cat.upsertVersioned("t", Seq((1L, "d1", "EU", 10.0))
        .toDF("id", "day", "region", "m"), Seq("id"), partitionBy = Seq("region"))
    }
    assert(e1.getMessage.contains("records layout (day)") &&
      e1.getMessage.contains("layout change requires"), e1.getMessage)
    // append defaulting: no partitionBy given -> follows the recorded layout
    cat.appendVersioned("t", Seq((3L, "d3", "EU", 3.0)).toDF("id", "day", "region", "m"))
    assert(components(cat, "t").contains("day=d3"),
      "pb-less append must follow the table's hive layout")
    // mismatch on delete and dynamic overwrite too
    intercept[IllegalArgumentException] {
      cat.deleteVersioned("t", col("id") === 1L, Seq("region"))
    }
    intercept[IllegalArgumentException] {
      cat.overwritePartitionsVersioned("t",
        Seq((9L, "d9", "EU", 9.0)).toDF("id", "day", "region", "m"), Seq("region"))
    }
    // a full overwrite is the explicit layout-change verb and succeeds
    val v = cat.overwriteVersioned("t", Seq((1L, "d1", "EU", 1.0))
      .toDF("id", "day", "region", "m"), Seq("region"))
    assert(cat.manifest("t", v).partitionBy == Seq("region"))
  }

  test("compaction collapses small files and preserves content") {
    val cat = freshCatalog
    // 10 appends of 10 rows -> many small files
    (0 until 10).foreach { i =>
      cat.appendVersioned("t", (0 until 10).map(j => (i * 10L + j, s"v$i"))
        .toDF("id", "v"))
    }
    val before = cat.fileCount("t")
    assert(before >= 10, s"expected many small files, got $before")
    val expected = cat.read("t").orderBy("id")
      .as[(Long, String)].collect().toSeq
    cat.compact("t", rowsPerFile = 50, clusterBy = Seq("id"))
    assert(cat.fileCount("t") === 2, "100 rows / 50 per file = 2 files")
    assert(cat.read("t").orderBy("id").as[(Long, String)].collect().toSeq
      === expected, "compaction must not change content")
  }

  test("describeDetail reports both tiers from metadata alone") {
    val root = Files.createTempDirectory("graft-dd").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("v",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "m"), Seq("p"))
    cat.addConstraint("v", "m_pos", "m > 0")
    val d = cat.describeDetail("v").head()
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[Long]("retained_versions") === 2L)
    assert(d.getAs[Long]("num_files") === 2L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[String]("partition_by") === "p")
    assert(d.getAs[Long]("n_constraints") === 1L)
    assert(!d.isNullAt(d.fieldIndex("last_commit_ts")))
    // a plain directory an older build left reports as its migrated v1
    Seq((1L, 1.0)).toDF("id", "m").write.parquet(s"$root/u")
    val u = cat.describeDetail("u").head()
    assert(u.getAs[Long]("version") === 1L)
    assert(u.getAs[Long]("retained_versions") === 1L)
    assert(u.getAs[Long]("num_files") >= 1L && u.getAs[Long]("size_bytes") > 0L)
  }

  test("a plain directory an older build left reads back, then is version 1 (migrate)") {
    val root = Files.createTempDirectory("graft-legacy").toString
    val df = Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      .toDF("id", "day", "m")
    df.write.partitionBy("day").parquet(s"$root/t")
    def rows(frame: org.apache.spark.sql.DataFrame) =
      frame.select($"id", $"day".cast("string"), $"m")
        .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val expected = rows(df)
    // the catalog read migrates on first touch
    val cat = new ParquetCatalog(spark, root)
    assert(rows(cat.read("t")) === expected)
    assert(!Files.exists(java.nio.file.Paths.get(root, "t")),
      "the plain dir becomes the table's data tree")
    // a second plain dir, first touched through the SQL door
    df.write.partitionBy("day").parquet(s"$root/u")
    val door = graft.spark.GraftCatalog.register(spark, "legacy_door", root)
    assert(rows(spark.sql(s"SELECT * FROM $door.u")) === expected)
    for (t <- Seq("t", "u")) {
      assert(cat.history(t).select("version", "operation")
        .as[(Long, String)].collect().toSeq === Seq((1L, "migrate")), t)
      assert(cat.layout(t) === Seq("day"), t)
    }
  }

  /** `body`'s result, the Spark jobs it started, and how many of those
    * were skipping-index footer passes (their stages run in
    * `SkippingIndex`). */
  private def jobsDuring[T](body: => T): (T, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val footer = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (js.stageInfos.exists(_.name.contains("SkippingIndex")))
          footer.incrementAndGet()
        ()
      }
    }
    org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
      (r, jobs.get, footer.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compact on an indexed table reads each new file's footer once") {
    import graft.storage.SkippingIndex
    for (partitioned <- Seq(false, true)) {
      val cat = freshCatalog
      val df = (1L to 40L).map(i => (i, s"d${i % 2}", i * 10)).toDF("id", "day", "v")
      cat.overwriteVersioned("t", df, if (partitioned) Seq("day") else Nil)
      cat.appendVersioned("t", Seq((41L, "d1", 410L)).toDF("id", "day", "v"))
      cat.index("t", Seq("id", "v"))
      val (_, _, footerJobs) = jobsDuring(cat.compact("t", rowsPerFile = 10))
      // the commit's incremental refresh collects every compacted file;
      // a second full pass over the same files used to follow it
      assert(footerJobs === 1, s"partitioned=$partitioned")
      val refreshed = SkippingIndex.readAt(cat.statsPath("t"))
      assert(refreshed.map(_.file).sorted ===
        cat.dataFilesAbs("t", cat.currentVersion("t")).sorted)
      cat.index("t", Seq("id", "v"))
      assert(refreshed === SkippingIndex.readAt(cat.statsPath("t")),
        s"partitioned=$partitioned: the refresh equals a fresh index")
    }
  }

  test("a DELETE counts its removed rows in one job; NULL conditions keep rows") {
    val rows = Seq((1L, "d1", Some(5L)), (2L, "d1", None), (3L, "d2", Some(50L)),
      (4L, "d2", Some(7L)), (5L, "d2", None)).toDF("id", "day", "v")
    for (partitioned <- Seq(false, true)) {
      val cat = freshCatalog
      cat.overwriteVersioned("t", rows, if (partitioned) Seq("day") else Nil)
      // v > 6 is NULL for ids 2 and 5: those rows stay
      val ((_, removed), jobs, _) = jobsDuring(cat.deleteVersioned("t", $"v" > 6L))
      assert(removed === 2L, s"partitioned=$partitioned")
      assert(cat.read("t").orderBy("id").select("id").as[Long].collect().toSeq ===
        Seq(1L, 2L, 5L), s"partitioned=$partitioned")
      // one count (a shuffle-map job and its result job) + the staged
      // write, plus the touched-partition probe when partitioned; the
      // total − kept form ran a second count: 5 and 8 jobs
      assert(jobs === (if (partitioned) 6 else 3), s"partitioned=$partitioned")
    }
  }

  test("every committing verb keeps the index exact and records its staged footers' column ids") {
    import graft.storage.SkippingIndex
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog
    def footerIds(file: String): Map[String, Int] = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.getId != null => f.getName -> f.getId.intValue
      }.toMap
      finally r.close()
    }
    val t0 = Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v")
    cat.overwriteVersioned("t", t0, Seq("day"))
    cat.overwriteVersioned("u", t0.drop("day"))
    for (t <- Seq("t", "u")) cat.setTableProperty(t, ParquetCatalog.IndexForProp, "id")
    Seq((1L, 11L), (9L, 90L)).toDF("id", "v").createOrReplaceTempView("commit_path_src")
    val verbs: Seq[(String, String, () => Any)] = Seq(
      ("overwrite", "t", () => cat.overwriteVersioned("t", t0, Seq("day"))),
      ("append", "t", () => cat.appendVersioned("t",
        Seq((4L, "d3", 40L)).toDF("id", "day", "v"))),
      ("overwritePartitions", "t", () => cat.overwritePartitionsVersioned("t",
        Seq((5L, "d3", 50L)).toDF("id", "day", "v"), Seq("day"))),
      ("scoped merge", "t", () => cat.upsertVersioned("t",
        Seq((1L, "d1", 11L), (6L, "d4", 60L)).toDF("id", "day", "v"), Seq("id"))),
      ("full merge", "u", () => cat.upsertVersioned("u",
        Seq((1L, 11L), (8L, 80L)).toDF("id", "v"), Seq("id"))),
      ("mergeInto", "u", () => cat.mergeInto("""
        MERGE INTO u AS target USING commit_path_src AS source
        ON target.id = source.id
        WHEN MATCHED THEN UPDATE SET v = source.v
        WHEN NOT MATCHED THEN INSERT *""")),
      ("delete", "t", () => cat.deleteVersioned("t", $"id" === 2L)),
      ("update", "t", () => cat.updateWhere("t", $"id" === 3L, Map("v" -> lit(33L)))),
      ("applyChanges", "t", () => cat.applyChanges("t",
        Seq((7L, "d2", 70L, "insert")).toDF("id", "day", "v", "_change_type"),
        Seq("id"))),
      ("compact", "t", () => cat.compact("t", rowsPerFile = 1000)),
      ("compactPartition", "t", () => cat.compactPartition("t", 1000,
        Seq("day" -> "d2"))),
      ("deleteVectors", "t", () => cat.deleteVectors("t", $"id" === 7L)),
      ("updateVectors", "t", () => cat.updateVectors("t", $"id" === 1L,
        Map("v" -> lit(12L)))),
      ("reorgPurge", "t", () => cat.reorgPurge("t", threshold = 0.0)),
      ("addColumn", "t", () => cat.addColumn("t", "extra",
        org.apache.spark.sql.types.StringType)),
      ("restore", "t", () => cat.restore("t", 3L)))
    verbs.foreach { case (verb, t, run) =>
      val before = cat.versions(t).last
      val beforeFiles = cat.dataFilesAbs(t, before).toSet
      run()
      val v = cat.currentVersion(t)
      assert(v === before + 1, s"$verb commits one version")
      val files = cat.dataFilesAbs(t, v)
      assert(SkippingIndex.readAt(cat.statsPath(t)).map(_.file).sorted ===
        files.sorted, s"$verb: the index lists exactly v$v's files")
      val ids = cat.manifest(t, v).meta.collect {
        case (k, i) if k.startsWith("colid.") =>
          java.net.URLDecoder.decode(k.drop("colid.".length), "UTF-8") -> i.toInt
      }
      val staged = files.filterNot(beforeFiles)
      staged.foreach { f =>
        val footer = footerIds(f)
        assert(footer.nonEmpty, s"$verb: $f carries no field ids")
        assert(footer.forall { case (c, i) => ids.get(c).contains(i) },
          s"$verb: $f footer ids $footer vs manifest $ids")
      }
    }
  }
}
