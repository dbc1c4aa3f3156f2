package graft

import graft.storage.{FooterSchema, ParquetCatalog, SkippingIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** File-level min/max skipping: the index must prune a clustered
  * layout's files on a narrow range predicate, never change results,
  * and degrade to over-reading (not wrong answers) when stats are
  * absent for a column.
  */
class SkippingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshCatalog(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-skip").toString
    (new ParquetCatalog(spark, root), root)
  }

  /** A stats path outside any catalog table's, so no catalog commit
    * refreshes the index these specs build by hand. */
  private def statsAt(root: String, name: String): Path =
    Paths.get(root, s"$name-stats.bin")

  /** The data files of table `name`'s current version. */
  private def filesOf(cat: ParquetCatalog, name: String): Seq[String] =
    cat.dataFilesAbs(name, cat.currentVersion(name))

  /** Every parquet file under a directory written by plain Spark. */
  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(_.toString).toList.sorted
    finally s.close()
  }

  /** Index-pruned read of `files`: open only the candidates, re-apply
    * every predicate (the index is advisory). */
  private def scanAt(sp: Path, files: Seq[String],
      preds: Seq[(String, Double, Double)]): DataFrame = {
    val cand = SkippingIndex.candidateFilesAt(sp, files, preds)
    val base =
      if (cand.isEmpty) FooterSchema.parquet(spark, files: _*).limit(0)
      else FooterSchema.parquet(spark, cand: _*)
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  test("range scan over a clustered table reads only intersecting files") {
    val (cat, root) = freshCatalog()
    val orders = Tables.orders(spark, sf)
    cat.overwriteVersioned("orders", orders)
    cat.compact("orders", rowsPerFile = 150, clusterBy = Seq("o_orderkey"))
    val sp = statsAt(root, "orders")
    val files = filesOf(cat, "orders")
    val stats = SkippingIndex.writeAt(spark, sp, files, Seq("o_orderkey", "o_totalprice"))
    assert(stats.size == cat.fileCount("orders").toInt)
    assert(stats.forall(_.cols.exists(_.column == "o_orderkey")))

    // narrow key range: a clustered layout must prune to a small subset
    val total = stats.size
    val cand = SkippingIndex.candidateFilesAt(sp, files, Seq(("o_orderkey", 100, 200)))
    assert(cand.nonEmpty && cand.size < total,
      s"expected pruning: ${cand.size} of $total files")

    // pruned scan ≡ full-scan filter, row for row
    val pruned = scanAt(sp, files, Seq(("o_orderkey", 100, 200)))
    val full = cat.read("orders")
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 200)
    assert(pruned.count() == full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("disjoint range yields an empty frame with the table schema") {
    val (cat, root) = freshCatalog()
    cat.overwriteVersioned("orders", Tables.orders(spark, sf))
    cat.compact("orders", rowsPerFile = 200, clusterBy = Seq("o_orderkey"))
    val sp = statsAt(root, "orders")
    val files = filesOf(cat, "orders")
    SkippingIndex.writeAt(spark, sp, files, Seq("o_orderkey"))
    val out = scanAt(sp, files, Seq(("o_orderkey", -500, -1)))
    assert(out.count() == 0)
    assert(out.columns.contains("o_totalprice"))
  }

  test("columns without stats are conservatively kept; index survives reload") {
    val (cat, root) = freshCatalog()
    cat.overwriteVersioned("orders", Tables.orders(spark, sf))
    val sp = statsAt(root, "orders")
    val files = filesOf(cat, "orders")
    SkippingIndex.writeAt(spark, sp, files, Seq("o_orderkey"))
    val reloaded = SkippingIndex.readAt(sp)
    // round-trip: same files, same stats
    assert(reloaded == SkippingIndex.collectFor(spark, files, Seq("o_orderkey")))
    // predicate on a column the index never collected: nothing pruned
    val all = SkippingIndex.candidateFilesAt(sp, files, Seq(("o_totalprice", 0, 1)))
    assert(all.size == reloaded.size)
  }

  test("z-order layout prunes BOTH predicated columns; linear cluster only the first") {
    def build(zorder: Boolean): (Path, Seq[String], Int) = {
      val (cat, root) = freshCatalog()
      cat.overwriteVersioned("li", Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_partkey", "l_quantity"))
      if (zorder)
        cat.compact("li", rowsPerFile = 400,
          zorderBy = Seq("l_orderkey", "l_partkey"))
      else
        cat.compact("li", rowsPerFile = 400,
          clusterBy = Seq("l_orderkey"))
      val sp = statsAt(root, "li")
      val files = filesOf(cat, "li")
      val stats = SkippingIndex.writeAt(spark, sp, files,
        Seq("l_orderkey", "l_partkey"))
      (sp, files, stats.size)
    }
    val (zsp, zfiles, zn) = build(zorder = true)
    val (lsp, lfiles, ln) = build(zorder = false)
    // predicate ONLY on the second z-order column: the lexicographic
    // layout cannot prune it at all, the hypercube layout can
    val preds = Seq(("l_partkey", 1.0, 20.0))
    val zc = SkippingIndex.candidateFilesAt(zsp, zfiles, preds).size
    val lc = SkippingIndex.candidateFilesAt(lsp, lfiles, preds).size
    assert(lc == ln, s"linear cluster should not prune the non-leading column ($lc/$ln)")
    assert(zc < zn, s"z-order must prune the second dimension ($zc/$zn)")
    // conjunctive scan ≡ full filter on the z-order layout
    val both = Seq(("l_orderkey", 100.0, 2000.0), ("l_partkey", 1.0, 20.0))
    val pruned = scanAt(zsp, zfiles, both)
    val full = FooterSchema.parquet(spark, zfiles: _*)
      .filter(col("l_orderkey").between(100, 2000) &&
        col("l_partkey").between(1, 20))
    assert(pruned.count() == full.count())
    assert(pruned.exceptAll(full).isEmpty)
  }

  test("numeric predicate over string-typed stats keeps all files, never throws") {
    val (cat, root) = freshCatalog()
    cat.overwriteVersioned("orders", Tables.orders(spark, sf))
    val sp = statsAt(root, "orders")
    val files = filesOf(cat, "orders")
    val stats = SkippingIndex.writeAt(spark, sp, files, Seq("o_orderstatus")) // BINARY stats
    val cand = SkippingIndex.candidateFilesAt(sp, files, Seq(("o_orderstatus", 0, 1)))
    assert(cand.size == stats.size, "non-numeric stats must conservatively keep")
  }

  test("files appended AFTER the index are conservative candidates — no dropped rows") {
    val (cat, root) = freshCatalog()
    val orders = Tables.orders(spark, sf)
    cat.overwriteVersioned("orders", orders.filter(col("o_orderkey") <= 700))
    val sp = statsAt(root, "orders")
    SkippingIndex.writeAt(spark, sp, filesOf(cat, "orders"), Seq("o_orderkey"))
    // append rows the stale index has never seen
    cat.appendVersioned("orders", orders.filter(col("o_orderkey") > 700))
    val pruned = scanAt(sp, filesOf(cat, "orders"), Seq(("o_orderkey", 500, 1200)))
    val full = cat.read("orders")
      .filter(col("o_orderkey").between(500, 1200))
    assert(pruned.count() == full.count(),
      "stale index must over-read appended files, never drop their rows")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("numeric-looking STRING stats never prune (lexicographic [10,9] trap)") {
    import spark.implicits._
    val (_, root) = freshCatalog()
    val dir = s"$root/strs"
    // one file whose string min/max are "10"/"9" lexicographically —
    // a numeric read of that interval would wrongly prune lo=9,hi=9
    Seq("9", "10", "11").toDF("v").coalesce(1).write.parquet(dir)
    val sp = statsAt(root, "strs")
    val files = parquetFiles(dir)
    val stats = SkippingIndex.writeAt(spark, sp, files, Seq("v"))
    assert(stats.head.cols.head.typ.startsWith("BINARY"))
    val cand = SkippingIndex.candidateFilesAt(sp, files, Seq(("v", 9, 9)))
    assert(cand.size == stats.size, "string-typed stats must keep all files")
    assert(scanAt(sp, files, Seq(("v", 9, 9))).count() == 1)
  }

  test("timestamp stats record the FULL annotation; MILLIS files never micros-prune") {
    import spark.implicits._
    val (_, root) = freshCatalog()
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2020-06-01 00:00:00")

    // Spark's DEFAULT writer stores TimestampType as INT96 — parquet
    // records no usable stats for it, so such columns are never
    // prunable (conservative by construction)
    val int96Dir = s"$root/ts_int96"
    Seq(t0, t1).toDF("ts").coalesce(1).write.parquet(int96Dir)
    val int96Stats = SkippingIndex.writeAt(spark, statsAt(root, "ts_int96"),
      parquetFiles(int96Dir), Seq("ts"))
    assert(int96Stats.head.cols.isEmpty,
      "INT96 carries no stats — the column must simply be unindexed")

    // opted into TIMESTAMP_MICROS, the annotation records adjusted-UTC
    val microsDir = s"$root/ts_micros"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Seq(t0, t1).toDF("ts").coalesce(1).write.parquet(microsDir)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val microsStats = SkippingIndex.writeAt(spark, statsAt(root, "ts_micros"),
      parquetFiles(microsDir), Seq("ts"))
    assert(microsStats.head.cols.head.typ === "INT64:TIMESTAMP(MICROS,true)",
      "the index must keep unit AND isAdjustedToUTC — pruners opt in per variant")

    // same logical values stored as MILLIS: raw stats are 1000× smaller
    val millisDir = s"$root/ts_millis"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq(t0, t1).toDF("ts").coalesce(1).write.parquet(millisDir)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val millisStats = SkippingIndex.writeAt(spark, statsAt(root, "ts_millis"),
      parquetFiles(millisDir), Seq("ts"))
    assert(millisStats.head.cols.head.typ === "INT64:TIMESTAMP(MILLIS,true)")

    // an epoch-MICROS instant window BELOW the data, declared prunable
    // only for the MICROS variant: the micros file prunes, the millis
    // file — whose raw millis stats would "intersect" the micros window
    // 1000× off — must be conservatively KEPT
    val lo = t0.getTime * 1000.0 - 86400e6 * 30
    val hi = t0.getTime * 1000.0 - 86400e6 * 1
    val micros = Set("INT64:TIMESTAMP(MICROS,true)")
    val microsCand = SkippingIndex.candidateFilesTyped(
      statsAt(root, "ts_micros"),
      microsStats.map(_.file), Seq(("ts", lo, hi, micros)))
    assert(microsCand.isEmpty, "micros stats prune a disjoint micros window")
    val millisCand = SkippingIndex.candidateFilesTyped(
      statsAt(root, "ts_millis"),
      millisStats.map(_.file), Seq(("ts", lo, hi, micros)))
    assert(millisCand === millisStats.map(_.file),
      "MILLIS-stored files must never be pruned by micros bounds")

    // NTZ storage records isAdjustedToUTC=false — a distinct variant
    val ntzDir = s"$root/ts_ntz"
    Seq(java.time.LocalDateTime.of(2020, 1, 1, 0, 0))
      .toDF("ts").coalesce(1).write.parquet(ntzDir)
    val ntzStats = SkippingIndex.writeAt(spark, statsAt(root, "ts_ntz"),
      parquetFiles(ntzDir), Seq("ts"))
    assert(ntzStats.head.cols.head.typ === "INT64:TIMESTAMP(MICROS,false)")
  }

  test("pruned scan of a partitioned layout keeps partition columns") {
    val (cat, _) = freshCatalog()
    cat.overwriteVersioned("orders",
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_totalprice", "o_orderstatus"),
      partitionBy = Seq("o_orderstatus"))
    cat.index("orders", Seq("o_orderkey"))
    val pruned = cat.readRange("orders", Seq(("o_orderkey", 100, 200)))
    assert(pruned.columns.contains("o_orderstatus"),
      "basePath read must preserve hive-style partition columns")
    val full = cat.read("orders")
      .filter(col("o_orderkey").between(100, 200))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("refresh is incremental: only new files get footer reads, old entries survive") {
    val (cat, root) = freshCatalog()
    val orders = Tables.orders(spark, sf)
    cat.overwriteVersioned("orders", orders.filter(col("o_orderkey") <= 700))
    val sp = statsAt(root, "orders")
    val first = SkippingIndex.writeAt(spark, sp, filesOf(cat, "orders"), Seq("o_orderkey"))
    cat.appendVersioned("orders", orders.filter(col("o_orderkey") > 700))
    val refreshed = SkippingIndex.refreshAt(spark, sp, filesOf(cat, "orders"))
    assert(refreshed.size > first.size, "new files must be indexed")
    // prior entries preserved verbatim (no re-read of known files)
    val byFile = refreshed.map(fs => fs.file -> fs).toMap
    first.foreach(fs => assert(byFile(fs.file) == fs))
    // after refresh the range scan prunes again (all candidates indexed)
    val cand = SkippingIndex.candidateFilesAt(sp, filesOf(cat, "orders"),
      Seq(("o_orderkey", 100, 200)))
    assert(cand.size < refreshed.size)
  }

  test("refresh with explicit columns UNIONS the prior index's set, never replaces") {
    // r19 (ADVICE): a table engine-indexed on A whose later
    // `graft.indexFor` declares only B must keep collecting A's stats
    // for NEW files — replacement would permanently degrade skipping
    // and the metadata-aggregate door for everything staged from then
    // on.
    val (cat, _) = freshCatalog()
    val orders = Tables.orders(spark, sf)
    cat.overwriteVersioned("orders", orders.filter(col("o_orderkey") <= 700))
    cat.index("orders", Seq("o_orderkey"))
    cat.setTableProperty("orders",
      graft.storage.ParquetCatalog.IndexForProp, "o_custkey")
    val before = SkippingIndex.readAt(cat.statsPath("orders")).map(_.file).toSet
    cat.appendVersioned("orders", orders.filter(col("o_orderkey") > 700))
    val refreshed = SkippingIndex.readAt(cat.statsPath("orders"))
    val fresh = refreshed.filterNot(fs => before.contains(fs.file))
    assert(fresh.nonEmpty, "the append must index new files")
    fresh.foreach { fs =>
      assert(fs.cols.exists(_.column == "o_custkey"),
        s"appended file ${fs.file} missing the declared column")
      assert(fs.cols.exists(_.column == "o_orderkey"),
        s"appended file ${fs.file} lost the prior indexed column")
    }
  }

  test("unclustered layout prunes little — clustering is what makes stats tight") {
    val (cat, root) = freshCatalog()
    // random layout: hash-repartition, no clustering
    cat.overwriteVersioned("orders",
      Tables.orders(spark, sf).repartition(10, col("o_custkey")))
    val sp = statsAt(root, "orders")
    val files = filesOf(cat, "orders")
    val stats = SkippingIndex.writeAt(spark, sp, files, Seq("o_orderkey"))
    val cand = SkippingIndex.candidateFilesAt(sp, files, Seq(("o_orderkey", 100, 200)))
    // every hash-partitioned file spans nearly the full key range
    assert(cand.size == stats.size,
      s"random layout should not prune: ${cand.size} of ${stats.size}")
  }

  test("invalid-UTF-8 string stats demote to lossy and never string-prune") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lossy").toString + "/t"
    // 0x41 0xFF is invalid UTF-8: the lossy decode substitutes U+FFFD
    // (bytes EF BF BD), which sorts BELOW the original 0xFF byte — a
    // byte-intersect trusting that max would wrongly drop the file for
    // probes between them
    val hiBytes = Array[Byte](0x41, 0xFF.toByte)
    Seq(Tuple1(Array[Byte](0x41)), Tuple1(hiBytes)).toDF("b")
      .select(col("b").cast("string").as("s"))
      .coalesce(1).write.parquet(dir)
    val files = parquetFiles(dir)
    val stats = SkippingIndex.writeAt(spark, Paths.get(dir, "_graft_stats.json"),
      files, Seq("s"))
    val cs = stats.head.cols.find(_.column == "s").get
    assert(cs.typ == "BINARY:STRING(lossy)", s"got ${cs.typ}")
    // probe ABOVE the lossy-decoded max: the file must survive
    val cand = SkippingIndex.candidateFilesTyped(
      java.nio.file.Paths.get(dir, "_graft_stats.json"), files, Nil,
      strPreds = Seq(("s", Some("A��"), None)))
    assert(cand == files, "lossy string stats must keep the file")
    // and valid-UTF-8 stats still carry the prunable tag
    val dir2 = Files.createTempDirectory("graft-lossy2").toString + "/t"
    Seq("alpha", "omega").toDF("s").coalesce(1).write.parquet(dir2)
    val cs2 = SkippingIndex.writeAt(spark, Paths.get(dir2, "_graft_stats.json"),
      parquetFiles(dir2), Seq("s")).head.cols.find(_.column == "s").get
    assert(cs2.typ == "BINARY:STRING")
  }

  test("decimal bloom probes gate on the chunk's DECIMAL(p,s) annotation") {
    val dir = Files.createTempDirectory("graft-decbloom").toString + "/t"
    spark.range(100).select(col("id").cast("decimal(9,2)").as("d"))
      .coalesce(1).write
      .option("parquet.bloom.filter.enabled#d", "true").parquet(dir)
    val files = parquetFiles(dir)
    // present value (5.00 = unscaled 500) under the matching (9,2): kept
    assert(SkippingIndex.bloomCandidatesAny(spark, files, "d",
      Seq(SkippingIndex.DecimalPoint(500L, 9, 2))) == files)
    // absent value under the matching annotation: pruned
    assert(SkippingIndex.bloomCandidatesAny(spark, files, "d",
      Seq(SkippingIndex.DecimalPoint(123457L, 9, 2))).isEmpty)
    // same unscaled long at a DIFFERENT scale aliases a different
    // number — the annotation mismatch must keep the file
    assert(SkippingIndex.bloomCandidatesAny(spark, files, "d",
      Seq(SkippingIndex.DecimalPoint(123457L, 9, 3))) == files)
    // a plain numeric probe against a DECIMAL-annotated chunk is in
    // different units — refuse (keep), mirroring the min/max tag gate
    assert(SkippingIndex.bloomCandidatesAny(spark, files, "d",
      Seq(java.lang.Long.valueOf(123457L))) == files)
  }
}
