package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The engine as a registered Spark catalog ([[graft.spark.GraftCatalog]]):
  * every statement here is PLAIN `spark.sql` against `<catalog>.<table>`
  * — no engine API in the query path. Reads ride Spark's own DSv2
  * `ParquetTable` over the manifest's file list; writes land as real
  * versioned commits through the V1 bridge. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  /** Register a fresh catalog name over a fresh root (catalog
    * instances are cached per name, so each test gets its own). */
  private def freshCatalog(tag: String): (ParquetCatalog, String, String) = {
    val root = Files.createTempDirectory("graft-cat").toString
    val cname = graft.spark.GraftCatalog.register(spark,
      s"gc$tag${System.nanoTime() % 100000}", root)
    (new ParquetCatalog(spark, root), root, cname)
  }

  test("SELECT and AS OF through plain spark.sql, scans pruned and pushed") {
    val (cat, _, c) = freshCatalog("r")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    assert(spark.sql(s"SELECT id, m FROM $c.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(spark.sql(s"SELECT count(*) FROM $c.t VERSION AS OF 1")
      .as[Long].head() === 2L)
    val t1 = cat.commitTimestamp("t", 1).get
    assert(spark.sql(
      s"SELECT count(*) FROM $c.t TIMESTAMP AS OF timestamp_millis($t1)")
      .as[Long].head() === 2L)
    // the DSv2 scan prunes partitions and pushes filters, same as the
    // engine's own read path
    val q = spark.sql(s"SELECT id FROM $c.t WHERE p = 'a' AND m > 15.0")
    assert(q.as[Long].collect().toSeq === Seq(3L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(m), GreaterThan(m,15.0)]"),
      plan.linesIterator.filter(_.contains("Pushed")).mkString("|"))
  }

  test("INSERT INTO / INSERT OVERWRITE are real versioned commits") {
    val (cat, _, c) = freshCatalog("w")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0)).toDF("id", "p", "m"), Seq("p"))
    cat.addConstraint("t", "m_pos", "m > 0")
    // the reported table schema puts the partition column LAST
    // (id, m, p) — hive/DSv2 convention — so VALUES follow that order
    spark.sql(s"INSERT INTO $c.t VALUES (2, 20.0, 'b')")
    assert(cat.read("t").count() === 2)
    assert(cat.history("t").orderBy(col("version").desc)
      .select("operation").as[String].head() === "append")
    // a violating INSERT is stopped by the table's CHECK constraint
    intercept[Exception](
      spark.sql(s"INSERT INTO $c.t VALUES (3, -1.0, 'b')"))
    assert(cat.read("t").count() === 2, "violating INSERT commits nothing")
    // INSERT OVERWRITE = overwriteVersioned: history retained
    val before = cat.currentVersion("t")
    spark.sql(s"INSERT OVERWRITE $c.t VALUES (9, 90.0, 'z')")
    assert(cat.read("t").select("id").as[Long].collect().toSeq === Seq(9L))
    assert(cat.currentVersion("t") === before + 1)
    assert(cat.readVersion("t", before).count() === 2,
      "the pre-overwrite version stays readable")
    // a time-traveled relation is read-only
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $c.t VERSION AS OF 1 VALUES (5, 5.0, 'x')"))
    assert(e.getMessage != null)
  }

  test("AS OF reads an old partitioned version correctly after a layout change") {
    val (cat, _, c) = freshCatalog("l")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // a full overwrite may change the layout; the traveled relation
    // must resolve partition values from ITS OWN version's layout, not
    // the current (empty) one — the silent-null regression pin
    cat.overwriteVersioned("t", Seq((9L, 90.0)).toDF("id", "m"))
    assert(spark.sql(s"SELECT id, p FROM $c.t VERSION AS OF 1 ORDER BY id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(spark.sql(s"SELECT id FROM $c.t").as[Long].collect().toSeq ===
      Seq(9L))
  }

  test("DELETE FROM and TRUNCATE TABLE are versioned delete commits") {
    val (cat, _, c) = freshCatalog("x")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("id", "p", "m"), Seq("p"))
    spark.sql(s"DELETE FROM $c.t WHERE m > 15.0 AND p = 'a'")
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(1L, 3L))
    assert(cat.history("t").orderBy(col("version").desc)
      .select("operation").as[String].head() === "delete")
    assert(cat.readVersion("t", 1).count() === 3,
      "the pre-delete version stays readable")
    spark.sql(s"TRUNCATE TABLE $c.t")
    assert(cat.read("t").count() === 0)
    assert(cat.readVersion("t", 2).count() === 2, "truncate retains history")
  }

  test("CREATE / ALTER / SHOW / DROP TABLE through SQL") {
    val (cat, _, c) = freshCatalog("d")
    spark.sql(s"CREATE TABLE $c.u (id BIGINT, day STRING) PARTITIONED BY (day)")
    assert(cat.exists("u") && cat.layout("u") === Seq("day"))
    assert(spark.sql(s"SELECT * FROM $c.u").count() === 0)
    spark.sql(s"INSERT INTO $c.u VALUES (1, 'd1'), (2, 'd2')")
    assert(spark.sql(s"SELECT id FROM $c.u WHERE day = 'd2'")
      .as[Long].collect().toSeq === Seq(2L))
    spark.sql(s"ALTER TABLE $c.u ADD COLUMN tag STRING")
    assert(spark.sql(s"SELECT tag FROM $c.u WHERE id = 1").head().isNullAt(0))
    spark.sql(s"ALTER TABLE $c.u DROP COLUMN tag")
    assert(!spark.sql(s"SELECT * FROM $c.u").columns.contains("tag"))
    cat.overwriteVersioned("t", Seq((1L, 1.0)).toDF("id", "m"))
    assert(spark.sql(s"SHOW TABLES IN $c").select("tableName")
      .as[String].collect().toSet === Set("t", "u"))
    spark.sql(s"DROP TABLE $c.u")
    assert(!cat.exists("u"))
    assert(spark.sql(s"SHOW TABLES IN $c").count() === 1)
  }

  test("ALTER TABLE RENAME COLUMN / ALTER COLUMN TYPE through plain spark.sql") {
    val (cat, _, c) = freshCatalog("cm")
    cat.overwriteVersioned("t",
      Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("id", "p", "m"), Seq("p"))
    val before = cat.manifestFiles("t", 1)
    spark.sql(s"ALTER TABLE $c.t RENAME COLUMN m TO metric")
    spark.sql(s"ALTER TABLE $c.t ALTER COLUMN id TYPE BIGINT")
    assert(cat.manifestFiles("t", cat.currentVersion("t")) === before,
      "both ALTERs are metadata-only")
    // old files' float values surface under the new name, widened ints
    assert(spark.sql(s"SELECT id, metric FROM $c.t ORDER BY id")
      .as[(Long, Float)].collect().toSeq === Seq((1L, 1.5f), (2L, 2.5f)))
    // time travel through the catalog reads the old shape
    assert(spark.sql(s"SELECT m FROM $c.t VERSION AS OF 1 ORDER BY m")
      .as[Float].collect().toSeq === Seq(1.5f, 2.5f))
    // a lossy retype refuses through this door too
    intercept[Exception](
      spark.sql(s"ALTER TABLE $c.t ALTER COLUMN id TYPE INT"))
  }

  test("CTAS through the catalog: real commits, partition layout, no debris on failure") {
    val (cat, _, c) = freshCatalog("ct")
    cat.overwriteVersioned("src",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    // plain CTAS: created + populated through the engine's write path
    spark.sql(s"CREATE TABLE $c.t AS SELECT id, m FROM $c.src")
    assert(cat.read("t").select("id").as[Long].collect().sorted === Array(1L, 2L))
    assert(cat.exists("t"), "CTAS lands as a versioned table")
    // partitioned CTAS records the layout
    spark.sql(s"CREATE TABLE $c.tp PARTITIONED BY (p) " +
      s"AS SELECT id, m, p FROM $c.src")
    assert(cat.layout("tp") === Seq("p") && cat.read("tp").count() === 2)
    // a CTAS whose WRITE fails must leave NO half-created table —
    // Spark's non-atomic CTAS exec drops the created table on failure;
    // this pin is the tripwire if that contract ever changes
    spark.udf.register("ctas_boom",
      (x: Long) => { if (x > 1) throw new RuntimeException("boom"); x })
    intercept[Exception](spark.sql(
      s"CREATE TABLE $c.bad AS SELECT ctas_boom(id) AS b FROM $c.src"))
    assert(!cat.exists("bad"), "failed CTAS must not leave a table behind")
    // CTAS onto an existing name refuses without touching the table
    intercept[Exception](spark.sql(
      s"CREATE TABLE $c.t AS SELECT 1L AS id"))
    assert(cat.read("t").count() === 2, "refused CTAS must not clobber")
  }

  test("RENAME TABLE is a metadata-only move preserving history and the index") {
    val (cat, _, c) = freshCatalog("rn")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((3L, "a", 30.0)).toDF("id", "p", "m"), Seq("p"))
    cat.index("t", Seq("id"))
    val filesBefore = cat.manifestFiles("t", cat.currentVersion("t")).toSet
    spark.sql(s"ALTER TABLE $c.t RENAME TO u")
    assert(!cat.exists("t") && cat.exists("u"))
    // history + time travel carry over; the file SET is untouched
    // (zero bytes rewritten — same relative paths, just a new dir)
    assert(cat.currentVersion("u") === 2)
    assert(cat.readVersion("u", 1).count() === 2)
    assert(cat.manifestFiles("u", cat.currentVersion("u")).toSet === filesBefore)
    assert(spark.sql(s"SELECT id FROM $c.u ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // the relocated skipping index still prunes (no stale-path keep-all)
    val stats = graft.storage.SkippingIndex.readAt(cat.statsPath("u"))
    assert(stats.nonEmpty &&
      stats.forall(_.file.contains("/.versions/u/")),
      s"stats must reference the new dir: ${stats.map(_.file)}")
    // misuse is loud: rename onto an existing table / hostile target
    cat.overwriteVersioned("w", Seq((1L, 1.0)).toDF("id", "m"))
    intercept[Exception](spark.sql(s"ALTER TABLE $c.u RENAME TO w"))
    intercept[Exception](spark.sql(s"ALTER TABLE $c.u RENAME TO `../evil`"))
    assert(cat.exists("u"), "a refused rename must leave the source intact")
    // the text door routes the same verb
    val cat2 = cat
    cat2.sql("ALTER TABLE u RENAME TO v")
    assert(!cat.exists("u") && cat.exists("v"))
    assert(cat.read("v").count() === 3)
  }

  test("dynamic INSERT OVERWRITE refuses at analysis; the engine verb covers it") {
    // Spark plans dynamic partition overwrite as
    // OverwritePartitionsDynamicExec, which has NO V1 fallback — a
    // catalog on the V1 write bridge must refuse LOUDLY at analysis
    // (never silently truncate), and the engine verb provides the
    // semantics
    val (cat, _, c) = freshCatalog("o")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception](
        spark.sql(s"INSERT OVERWRITE $c.t VALUES (9, 90.0, 'b')"))
      assert(e.getMessage.contains("dynamic overwrite"), e.getMessage)
      assert(cat.read("t").count() === 2, "the refusal must commit nothing")
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // the engine verb IS the dynamic overwrite: only present partitions
    // replaced, the rest carried verbatim
    cat.overwritePartitionsVersioned("t",
      Seq((9L, "b", 90.0)).toDF("id", "p", "m"), Seq("p"))
    assert(cat.read("t").select($"id", $"p".cast("string"))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (9L, "b")))
    // static mode keeps full-truncate semantics
    spark.sql(s"INSERT OVERWRITE $c.t VALUES (5, 50.0, 'z')")
    assert(cat.read("t").select("id").as[Long].collect().toSeq === Seq(5L))
  }

  test("hostile table identifiers never escape the catalog root") {
    // a backtick-quoted identifier reaches the catalog verbatim — `..`
    // or a name with '/' must never resolve to a filesystem path, or
    // DROP TABLE becomes arbitrary directory deletion
    val scratch = Files.createTempDirectory("graft-esc")
    val root = Files.createDirectory(scratch.resolve("tables"))
    val marker = Files.writeString(scratch.resolve("marker.txt"), "live")
    val cname = graft.spark.GraftCatalog.register(spark,
      s"gcesc${System.nanoTime() % 100000}", root.toString)
    val cat = new ParquetCatalog(spark, root.toString)
    cat.overwriteVersioned("t", Seq((1L, 1.0)).toDF("id", "m"))
    for (bad <- Seq("..", ".", "../tables", "a/b", "a\\b", ".versions")) {
      assert(!cat.exists(bad), s"'$bad' must read as absent")
      intercept[Exception](cat.overwriteVersioned(bad,
        Seq((1L, 1.0)).toDF("id", "m")))
      intercept[Exception](spark.sql(s"DROP TABLE $cname.`$bad`"))
    }
    assert(Files.exists(marker), "DROP on a hostile name deleted outside root")
    assert(Files.exists(root) && cat.exists("t"),
      "the real table and root survive")
    intercept[Exception](
      spark.sql(s"CREATE TABLE $cname.`../evil` (id BIGINT)"))
    assert(!Files.exists(scratch.resolve("evil")) &&
      !Files.exists(scratch.resolve(".versions")),
      "CREATE on a hostile name wrote outside root")
  }

  test("deletion vectors hold through plain spark.sql reads, AS OF, and TBLPROPERTIES") {
    val (cat, _, c) = freshCatalog("dv")
    cat.overwriteVersioned("t",
      (1L to 60L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.deleteVectors("t", col("id") % 10 === 3)
    // the registered catalog's DIRECT file scan must not resurrect the
    // vectored rows (the engine read path already can't)
    assert(spark.sql(s"SELECT count(*) FROM $c.t").as[Long].head() === 54L)
    assert(spark.sql(s"SELECT count(*) FROM $c.t WHERE id = 13").as[Long].head() === 0L)
    assert(spark.sql(s"SELECT sum(id) FROM $c.t").as[Long].head() ===
      (1L to 60L).filterNot(_ % 10 == 3).sum)
    // filters still apply above the scan (pushdown is disabled for
    // vectored scans so positions stay exact — correctness first)
    assert(spark.sql(s"SELECT id FROM $c.t WHERE p = 'a' AND id < 5 ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 4L))
    // time travel reads each version under ITS OWN vectors
    assert(spark.sql(s"SELECT count(*) FROM $c.t VERSION AS OF 1")
      .as[Long].head() === 60L)
    // SET TBLPROPERTIES through the registered catalog routes SQL
    // DELETE/UPDATE merge-on-read
    spark.sql(s"ALTER TABLE $c.t SET TBLPROPERTIES ('graft.deletionVectors'='true')")
    assert(cat.tableProperties("t") === Map("graft.deletionVectors" -> "true"))
    // ...and SHOW TBLPROPERTIES reads them back through Table.properties()
    val shown = spark.sql(s"SHOW TBLPROPERTIES $c.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.deletionVectors").contains("true"), shown.toString)
    val before = cat.manifestFiles("t", cat.currentVersion("t")).toSet
    spark.sql(s"DELETE FROM $c.t WHERE id = 14")
    assert(cat.manifestFiles("t", cat.currentVersion("t")).toSet === before,
      "a property-routed catalog DELETE must be merge-on-read")
    assert(spark.sql(s"SELECT count(*) FROM $c.t").as[Long].head() === 53L)
    spark.sql(s"ALTER TABLE $c.t UNSET TBLPROPERTIES ('graft.deletionVectors')")
    assert(cat.tableProperties("t") === Map.empty)
    // UNSET IF EXISTS on an absent key is a no-op, not an error
    spark.sql(s"ALTER TABLE $c.t UNSET TBLPROPERTIES IF EXISTS ('absent.key')")
    // CREATE TABLE ... TBLPROPERTIES lands the declared properties
    spark.sql(s"CREATE TABLE $c.t2 (id BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('graft.deletionVectors'='true')")
    assert(cat.tableProperties("t2")
      .get("graft.deletionVectors").contains("true"),
      s"got ${cat.tableProperties("t2")}")
  }

  test("a vectored catalog scan still prunes partitions (files, not row groups)") {
    val (cat, _, c) = freshCatalog("dvp")
    cat.overwriteVersioned("t",
      (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.deleteVectors("t", col("id") === 2L)
    // one whole file per input partition: the partition-pruned query
    // must read ONLY partition a's file (pruning is file-granular, so
    // it cannot perturb in-file row positions)
    val filesA = cat.manifestFiles("t", 2).count(_.contains("p=a/"))
    val filesAll = cat.manifestFiles("t", 2).size
    assert(filesA < filesAll, "fixture must have files in both partitions")
    val pruned = spark.sql(s"SELECT id FROM $c.t WHERE p = 'a'")
    assert(pruned.rdd.getNumPartitions === filesA,
      "partition filters must still prune the vectored scan to a's files")
    assert(pruned.as[Long].collect().sorted ===
      (1L to 40L).filter(i => i % 2 == 0 && i != 2L).toArray)
    val full = spark.sql(s"SELECT id FROM $c.t")
    assert(full.rdd.getNumPartitions === filesAll)
    assert(full.count() === 39)
  }

  test("vectored catalog scans keep data-filter pushdown (row-index anti-filter)") {
    val (cat, _, c) = freshCatalog("dvf")
    cat.overwriteVersioned("t",
      (1L to 4000L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.deleteVectors("t", col("id") === 8L || col("id") === 9L)
    val q = spark.sql(s"SELECT id, m FROM $c.t WHERE id = 8")
    // the data filter must reach the parquet scan (row-group pruning):
    // row positions ride the readers' generated row-index column, so
    // skipping row groups can no longer perturb them
    val descs = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    assert(descs.nonEmpty && descs.head.contains("GraftDvScan"), descs.mkString)
    assert(descs.head.contains("EqualTo(id,8)"),
      s"data filter must be pushed into the vectored scan:\n${descs.head}")
    // the pushed filter selects the row's group; the vector still wins
    assert(q.count() === 0L)
    assert(spark.sql(s"SELECT m FROM $c.t WHERE id = 10")
      .as[Double].head() === 10.0)
    assert(spark.sql(s"SELECT count(*) FROM $c.t").as[Long].head() === 3998L)
    assert(spark.sql(s"SELECT sum(id) FROM $c.t WHERE p = 'a'")
      .as[Long].head() === (2L to 4000L by 2).sum - 8L)
  }

  /** Toggle the SPJ opt-in confs around `body`, restoring defaults. */
  private def withSpj[A](body: => A): A = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("co-partitioned tables join with ZERO shuffle (storage-partitioned join)") {
    val (cat, _, c) = freshCatalog("spj")
    cat.overwriteVersioned("t1",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
        .toDF("id", "p", "m"), Seq("p"))
    cat.overwriteVersioned("t2",
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("k", "p", "n"), Seq("p"))
    // no ORDER BY: a global sort adds its own (legitimate) range
    // exchange — the pin is the JOIN needing none
    val sql = s"SELECT t1.id, t1.p, t2.n FROM $c.t1 t1 JOIN $c.t2 t2 " +
      "ON t1.p = t2.p"
    def sorted(rows: Seq[org.apache.spark.sql.Row]) =
      rows.sortBy(r => (r.getLong(0), r.getDouble(2)))
    val expected = sorted(spark.sql(sql).collect().toSeq) // stock plan, shuffles
    withSpj {
      val q = spark.sql(sql)
      val rows = sorted(q.collect().toSeq)
      assert(rows === expected, "SPJ must not change the join result")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"a co-partitioned join must not shuffle either side:\n$plan")
      assert(plan.contains("GraftSpjScan"), s"expected the SPJ scan:\n$plan")
    }
    // conf off: stock scan, no SPJ reporting (and of course same rows)
    val off = spark.sql(sql)
    assert(sorted(off.collect().toSeq) === expected)
    assert(!off.queryExecution.executedPlan.toString.contains("GraftSpjScan"))
  }

  test("SPJ aligns mismatched partition-value sets (pushPartValues)") {
    val (cat, _, c) = freshCatalog("spjmm")
    cat.overwriteVersioned("t1",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "p", "m"), Seq("p"))
    // t2 has NO partition c — one side's value set is a strict subset
    cat.overwriteVersioned("t2",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "n"), Seq("p"))
    val sql = s"SELECT t1.id, t2.n FROM $c.t1 t1 JOIN $c.t2 t2 ON t1.p = t2.p"
    def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.sortBy(_.getLong(0))
    val expected = sorted(spark.sql(sql).collect().toSeq)
    assert(expected.size === 2)
    withSpj {
      val q = spark.sql(sql)
      assert(sorted(q.collect().toSeq) === expected,
        "a missing partition value on one side must not change results")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"pushPartValues must align the sets without a shuffle:\n$plan")
    }
  }

  test("GROUP BY on the partition columns aggregates shuffle-free under SPJ") {
    val (cat, _, c) = freshCatalog("spjagg")
    cat.overwriteVersioned("t",
      (1L to 40L).map(i => (i, s"p${i % 4}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    val sql = s"SELECT p, count(*) AS n, sum(m) AS s FROM $c.t GROUP BY p"
    def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.sortBy(_.getString(0))
    val expected = sorted(spark.sql(sql).collect().toSeq)
    withSpj {
      val q = spark.sql(sql)
      assert(sorted(q.collect().toSeq) === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"grouping by the layout keys must not shuffle:\n$plan")
    }
  }

  test("SPJ composes with index skipping: layout-grouped AND file-pruned") {
    val (cat, _, c) = freshCatalog("spjskip")
    cat.overwriteVersioned("t",
      (1L to 8000L).map(i => (i, s"p${i % 2}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.compact("t", rowsPerFile = 1000, partitionBy = Seq("p"),
      clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    val sql = s"SELECT p, count(*) AS n FROM $c.t " +
      "WHERE id BETWEEN 100 AND 900 GROUP BY p"
    val expected = spark.sql(sql).collect().toSeq.sortBy(_.getString(0))
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().toSeq.sortBy(_.getString(0)) === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"still shuffle-free:\n$plan")
      val desc = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head
      val kept = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).getOrElse(
        fail(s"SPJ scan over an indexed table must report skipping: $desc"))
      assert(kept.group(2).toInt >= 8 && kept.group(1).toInt * 2 < kept.group(2).toInt,
        s"the range must prune most clustered files under SPJ too: $desc")
    }
  }

  test("SPJ never engages where it would be wrong: pruned keys, vectors, aggregates") {
    val (cat, _, c) = freshCatalog("spjoff")
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "p", "m"), Seq("p"))
    withSpj {
      // partition column pruned away → stock scan (keys unresolvable)
      val pruned = spark.sql(s"SELECT id, m FROM $c.t ORDER BY id")
      assert(!pruned.queryExecution.executedPlan.toString.contains("GraftSpjScan"))
      assert(pruned.as[(Long, Double)].collect().toSeq ===
        Seq((1L, 10.0), (2L, 20.0)))
      // pushdown is untouched by the wrapper: same PushedFilters line
      val q = spark.sql(s"SELECT id FROM $c.t WHERE p = 'a' AND m > 5.0")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(m), GreaterThan(m,5.0)]"),
        plan.linesIterator.filter(_.contains("Pushed")).mkString("|"))
      assert(q.as[Long].collect().toSeq === Seq(1L))
      // size statistics pass through the wrapper: a tiny NON-co-
      // partitioned table still broadcasts under the default threshold
      cat.overwriteVersioned("u",
        Seq((1L, "x", 1.0)).toDF("id", "q", "m"), Seq("q"))
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val j = spark.sql(s"SELECT t.id FROM $c.t t JOIN $c.u u ON t.id = u.id")
      j.collect()
      assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "wrapped scans must keep reporting size stats")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // a vectored table keeps the positional dv scan
      cat.setTableProperty("t", "graft.deletionVectors", "true")
      cat.deleteVectors("t", col("id") === 2L)
      val dv = spark.sql(s"SELECT id, p FROM $c.t ORDER BY id")
      val dvPlan = dv.queryExecution.executedPlan.toString
      assert(dvPlan.contains("GraftDvScan") && !dvPlan.contains("GraftSpjScan"))
      assert(dv.as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    }
  }

  test("the bucket id is DERIVED: a hostile INSERT cannot corrupt the layout") {
    val (cat, _, c) = freshCatalog("bder")
    cat.overwriteBucketedVersioned("f",
      (1L to 800L).map(i => (i, i * 2.0)).toDF("id", "m"), "id", 8)
    cat.overwriteBucketedVersioned("g",
      (700L to 900L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    // INSERT supplies a WRONG bucket id for key 650 (inside f's id
    // range, outside g's) — the write path must recompute it (hidden
    // partitioning), or bucket SPJ would silently drop the row from
    // zipped joins
    spark.sql(s"INSERT INTO $c.g VALUES (650, 'hostile', 999)")
    val stored = spark.sql(s"SELECT _gbucket FROM $c.g WHERE id = 650")
      .head().getInt(0)
    assert(stored >= 0 && stored < 8, s"derived bucket id, got $stored")
    val sql = s"SELECT f.id, g.tag FROM $c.f f JOIN $c.g g ON f.id = g.id"
    withSpj {
      val rows = spark.sql(sql).collect()
      assert(rows.length === 102, "700..800 plus the inserted 650")
      assert(rows.exists(r => r.getLong(0) == 650L && r.getString(1) == "hostile"),
        "the corrected row must join under SPJ")
      assert(!spark.sql(sql).queryExecution.executedPlan.toString
        .contains("Exchange"))
    }
    // the derivation column cannot be dropped out from under the layout
    intercept[Exception](cat.dropColumn("g", "id"))
  }

  test("SPJ survives skew handling: partially-clustered distribution stays correct") {
    val (cat, _, c) = freshCatalog("spjskew")
    // heavily skewed layout: partition a carries 50x partition b's rows,
    // split across several files (per-split keys are what Spark's
    // partially-clustered SPJ re-splits on)
    cat.overwriteVersioned("f",
      ((1L to 5000L).map(i => (i, "a", i * 1.0)) ++
        (5001L to 5100L).map(i => (i, "b", i * 1.0))).toDF("id", "p", "m"),
      Seq("p"))
    cat.compact("f", rowsPerFile = 1000, partitionBy = Seq("p"))
    cat.overwriteVersioned("g",
      Seq(("a", 1L), ("b", 2L)).toDF("p", "n"), Seq("p"))
    val sql = s"SELECT f.id, g.n FROM $c.f f JOIN $c.g g ON f.p = g.p"
    val expected = spark.sql(sql).count()
    assert(expected === 5100L)
    withSpj {
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        "true")
      try {
        val q = spark.sql(sql)
        assert(q.count() === expected,
          "partially-clustered SPJ must not change results")
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("GraftSpjScan"), s"expected the SPJ scan:\n$plan")
        assert(!plan.contains("Exchange"),
          s"skew handling must not reintroduce a shuffle:\n$plan")
      } finally spark.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    }
  }

  test("co-BUCKETED tables join with zero Exchange (bucket-transform SPJ)") {
    val (cat, _, c) = freshCatalog("bspj")
    // two tables hash-bucketed on the JOIN KEY itself (not a partition
    // column): the scans report bucket(8, id) through the catalog's own
    // V2 bucket function, and Spark's SPJ machinery aligns the bucket
    // ids — no Exchange on either side
    cat.overwriteBucketedVersioned("f",
      (1L to 2000L).map(i => (i, i * 2.0)).toDF("id", "m"), "id", 8)
    cat.overwriteBucketedVersioned("g",
      (1500L to 3000L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    val sql = s"SELECT f.id, f.m, g.tag FROM $c.f f JOIN $c.g g ON f.id = g.id"
    val expected = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(expected.length === 501)
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).sorted === expected,
        "bucket SPJ must not change the join result")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"a co-bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("GraftSpjScan"), s"expected the SPJ scan:\n$plan")
    }
    // conf off: same rows through the stock scan
    assert(spark.sql(sql).collect().length === 501)
    // mismatched bucket counts must NOT zip-align: results stay correct
    // (Spark sees incompatible partitionings and shuffles)
    cat.overwriteBucketedVersioned("h",
      (1500L to 3000L).map(i => (i, s"w$i")).toDF("id", "tag"), "id", 4)
    withSpj {
      val q2 = spark.sql(
        s"SELECT f.id, h.tag FROM $c.f f JOIN $c.h h ON f.id = h.id")
      assert(q2.collect().length === 501,
        "bucket-count mismatch must fall back to a correct (shuffled) join")
    }
  }

  test("composite partitionBy + bucket layouts: date pruning AND zero-Exchange compose") {
    // r19: the canonical 100 TB fact shape — identity-partitioned by a
    // date-like column AND hash-bucketed by the join key. One layout
    // serves both partition pruning and shuffle-free key joins.
    val (cat, _, c) = freshCatalog("cpb")
    cat.overwriteBucketedVersioned("f",
      (1L to 4000L).map(i => (i, s"d${i % 4}", i * 1.0))
        .toDF("id", "day", "m"),
      "id", 8, partitionBy = Seq("day"))
    cat.overwriteBucketedVersioned("dim",
      (1L to 3000L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)

    // 1) key-only join UNDER a day filter: the day column is consumed
    //    by planning-time partition pruning, so the fact degrades to
    //    plain bucket(8, id) keys and zips with the un-partitioned
    //    co-bucketed dim — zero Exchange and partition pruning in the
    //    SAME executed plan, no subset-join-keys flag needed
    val sql = s"SELECT f.id, f.m, d.tag FROM $c.f f JOIN $c.dim d " +
      s"ON f.id = d.id WHERE f.day = 'd1'"
    val expected = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(expected.length === 750)
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).sorted === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"key join under a day filter must not shuffle:\n$plan")
      assert(plan.contains("GraftSpjScan"), s"expected the SPJ scan:\n$plan")
      assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).isDefined,
        s"the day filter must prune partitions in the same plan:\n$plan")
    }

    // 2) both key components in the query: GROUP BY (day, id) over the
    //    reported [identity(day), bucket(8, id)] aggregates shuffle-free
    withSpj {
      val agg = spark.sql(
        s"SELECT day, id, count(*) AS n FROM $c.f GROUP BY day, id")
      assert(agg.collect().length === 4000)
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"GROUP BY over the composite keys must not shuffle:\n$plan")
    }

    // 2b) no day filter, day in OUTPUT: the fact reports composite
    //     keys while the dim is bucket-only — a key-only join then
    //     needs Spark's own subset-join-keys opt-in to zip (the fact's
    //     groups re-group on the projected bucket component)
    withSpj {
      val flags = Seq(
        "spark.sql.sources.v2.bucketing" +
          ".allowJoinKeysSubsetOfPartitionKeys.enabled",
        // Spark requires this OFF for subset-key co-partitioning —
        // its default (true) demands join keys cover ALL cluster keys
        "spark.sql.requireAllClusterKeysForCoPartition")
      spark.conf.set(flags.head, "true")
      spark.conf.set(flags(1), "false")
      try {
        val q = spark.sql(s"SELECT f.day, f.id, d.tag FROM $c.f f " +
          s"JOIN $c.dim d ON f.id = d.id")
        assert(q.collect().length === 3000)
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"subset join keys must zip composite vs bucket-only:\n$plan")
      } finally flags.foreach(spark.conf.unset)
    }

    // 3) two co-composite tables joined on BOTH components: zero
    //    Exchange through the multi-transform keys
    cat.overwriteBucketedVersioned("g",
      (2000L to 6000L).map(i => (i, s"d${i % 4}", s"w$i"))
        .toDF("id", "day", "tag"),
      "id", 8, partitionBy = Seq("day"))
    val sql3 = s"SELECT f.id, f.day, g.tag FROM $c.f f JOIN $c.g g " +
      s"ON f.id = g.id AND f.day = g.day"
    val expected3 = spark.sql(sql3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(expected3.length === 2001)
    withSpj {
      val q3 = spark.sql(sql3)
      assert(q3.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).sorted === expected3)
      val plan3 = q3.queryExecution.executedPlan.toString
      assert(!plan3.contains("Exchange"),
        s"co-composite join on (day, id) must not shuffle:\n$plan3")
    }

    // 4) the derivation survives the composite: a hostile INSERT
    //    cannot place a row in the wrong bucket dir (stage() re-derives
    //    under the composite layout)
    spark.sql(s"INSERT INTO $c.f VALUES (9001, 1.5, 'd1', 99)")
    val loc = spark.sql(s"SELECT _gbucket FROM $c.f WHERE id = 9001")
      .as[Int].head()
    val want = Seq(9001L).toDF("id")
      .select(pmod(hash(col("id")), lit(8))).as[Int].head()
    assert(loc === want, "INSERT INTO a composite table must re-derive")

    // 5) metadata aggregates compose with the composite layout: a
    //    day-only filter is consumed exactly by partition pruning, so
    //    COUNT(*) answers from manifest + footer metadata, no data page
    val cq = spark.sql(s"SELECT count(*) AS n FROM $c.f WHERE day = 'd1'")
    assert(cq.head().getLong(0) === 1001L) // 1000 originals + the insert
    assert(cq.queryExecution.executedPlan.toString
      .contains("GraftCountStarScan"),
      "composite tables keep the metadata-count door")
  }

  test("runtime join filters prune BUCKETS: values hash to allowed bucket ids") {
    val (cat, _, c) = freshCatalog("bdpp")
    cat.overwriteBucketedVersioned("f",
      (1L to 4000L).map(i => (i, i * 1.0)).toDF("id", "m"), "id", 8)
    cat.overwriteVersioned("dim",
      Seq((42L, 1L), (43L, 2L), (77L, 1L)).toDF("id", "n"))
    val sql = s"SELECT f.id, f.m FROM $c.f f JOIN $c.dim d " +
      s"ON f.id = d.id WHERE d.n = 1"
    val expected = spark.sql(sql).collect().map(_.getLong(0)).sorted
    assert(expected === Array(42L, 77L))
    // SPJ reporting on, broadcast ALLOWED: the dim broadcasts, DPP
    // injects a runtime IN over f.id, and the scan maps the values
    // through the bucket hash — only their buckets' files plan
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = spark.sql(sql)
      assert(q.collect().map(_.getLong(0)).sorted === expected,
        "bucket runtime pruning must never change results")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") && plan.contains("GraftSpjScan"),
        s"expected a runtime filter on the bucketed scan:\n$plan")
      // the key-grouped exec keeps its 8 group SLOTS, so the pin is the
      // fact scan's output rows: only the two allowed buckets' files
      // were read (~1000 of 4000 rows), the rest never planned
      def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        val own = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            return scanRows(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            return scanRows(s.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if (b.scan match {
                case g: graft.spark.GraftScan => g.keyed
                case _ => false
              }) =>
            b.metrics("numOutputRows").value
          case _ => 0L
        }
        own + p.children.map(scanRows).sum
      }
      val read = scanRows(q.queryExecution.executedPlan)
      assert(read > 0 && read <= 1500,
        s"runtime bucket pruning must skip the other buckets' files, read $read of 4000")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("pure-SQL bucketed lifecycle: DDL bucket transform + CTAS property lay out buckets") {
    // r19: zero engine API — CREATE TABLE ... PARTITIONED BY
    // (bucket(8, id)) and CTAS with graft.bucketBy both produce
    // bucketed layouts; INSERT INTO keeps deriving. As on the engine
    // door, the synthetic _gbucket column surfaces in the schema once
    // the layout exists (supplied values are discarded and re-derived).
    val (_, _, c) = freshCatalog("sqlb")
    spark.sql(
      s"CREATE TABLE $c.f (id BIGINT, m DOUBLE) PARTITIONED BY (bucket(8, id))")
    spark.sql(s"INSERT INTO $c.f SELECT id, id * 2.0 FROM range(1, 2001)")
    spark.sql(s"CREATE TABLE $c.g TBLPROPERTIES('graft.bucketBy'='id,8') " +
      s"AS SELECT id, concat('v', id) AS tag FROM range(1500, 3001)")
    val sql = s"SELECT f.id, f.m, g.tag FROM $c.f f JOIN $c.g g ON f.id = g.id"
    val expected = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(expected.length === 501)
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).sorted === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SQL-declared co-bucketed tables must join shuffle-free:\n$plan")
      assert(plan.contains("GraftSpjScan"), s"expected the SPJ scan:\n$plan")
    }
    // INSERT INTO keeps deriving — the hostile bucket id 99 is
    // discarded and the row lands in the hash-correct dir (joins see it)
    spark.sql(s"INSERT INTO $c.g VALUES (650, 'late', 99)")
    withSpj {
      val rows = spark.sql(sql).collect()
      assert(rows.length === 502)
      assert(rows.exists(r => r.getLong(0) == 650L && r.getString(2) == "late"))
      assert(!spark.sql(sql).queryExecution.executedPlan.toString
        .contains("Exchange"))
    }
    // composite via pure DDL: identity prefix + trailing bucket
    spark.sql(s"CREATE TABLE $c.h (id BIGINT, day STRING, m DOUBLE) " +
      s"PARTITIONED BY (day, bucket(8, id))")
    spark.sql(s"INSERT INTO $c.h " +
      s"SELECT id, concat('d', id % 3), id * 1.0 FROM range(1, 901)")
    withSpj {
      // h ∩ g on id = {650} (g holds 1500..3000 plus the late 650,
      // h holds 1..900); 650 % 3 = 2 → partition d2
      val q = spark.sql(s"SELECT h.id, h.m, g.tag FROM $c.h h " +
        s"JOIN $c.g g ON h.id = g.id WHERE h.day = 'd2'")
      val rows = q.collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(650L))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"DDL composite join under a day filter must not shuffle:\n$plan")
      assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).isDefined,
        s"the day filter must prune partitions:\n$plan")
    }
    // declaration-time validation: junk value and unbucketable types
    // refuse at CREATE/ALTER, not on the first write
    intercept[Exception](spark.sql(
      s"ALTER TABLE $c.f SET TBLPROPERTIES('graft.bucketBy'='nope')"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE $c.f SET TBLPROPERTIES('graft.bucketBy'='m,8')"))

    // INSERT OVERWRITE re-lays the bucketed layout (full overwrites of
    // a declared table always derive) …
    spark.sql(s"INSERT OVERWRITE $c.g " +
      s"SELECT id, concat('w', id) AS tag, 7 FROM range(1500, 2501)")
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().length === 501)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
        "the overwritten layout must keep zipping")
    }
    // …and a pure-SQL RE-BUCKET is ALTER + INSERT OVERWRITE: the new
    // declaration takes effect at the next full overwrite
    spark.sql(s"ALTER TABLE $c.g SET TBLPROPERTIES('graft.bucketBy'='id,4')")
    spark.sql(s"INSERT OVERWRITE $c.g " +
      s"SELECT id, concat('x', id) AS tag, 0 FROM range(1500, 2501)")
    val spec = spark.sql(s"SHOW TBLPROPERTIES $c.g")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(spec("graft.bucketBy") === "id,4")
    // 8-bucket f no longer zips with 4-bucket g — correct, shuffled
    withSpj {
      assert(spark.sql(sql).collect().length === 501,
        "a bucket-count mismatch must stay correct (shuffled)")
    }
  }

  test("dynamic FILE pruning engages on SPJ scans (runtime index pass)") {
    // r19: a partitioned (hence SPJ-wrapped) fact used to lose
    // index-driven runtime file pruning entirely — the SPJ builder
    // dropped statsPath without planned conjuncts and its runtime path
    // pruned only partitions/buckets. Now the runtime IN rides the
    // same min/max + bloom pass as on the unkeyed scan.
    val (cat, _, c) = freshCatalog("sdfp")
    val fact = (1L to 4000L)
      .map(i => (i, if (i <= 2000) "a" else "b", i * 1.0))
      .toDF("id", "p", "m").repartitionByRange(8, col("id"))
    cat.overwriteVersioned("f", fact, Seq("p"))
    cat.index("f", Seq("id"))
    cat.overwriteVersioned("dim",
      (100L to 300L).map(i => (i, 1L)).toDF("id", "n"))
    val sql = s"SELECT f.id, f.p, f.m FROM $c.f f " +
      s"JOIN $c.dim d ON f.id = d.id WHERE d.n = 1"
    val expected = spark.sql(sql).collect().map(_.getLong(0)).sorted
    assert(expected.length === 201)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = spark.sql(sql)
      assert(q.collect().map(_.getLong(0)).sorted === expected,
        "runtime file pruning must never change results")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") && plan.contains("GraftSpjScan"),
        s"expected a runtime filter on the SPJ scan:\n$plan")
      def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        val own = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            return scanRows(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            return scanRows(s.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if (b.scan match {
                case g: graft.spark.GraftScan => g.keyed
                case _ => false
              }) =>
            b.metrics("numOutputRows").value
          case _ => 0L
        }
        own + p.children.map(scanRows).sum
      }
      val read = scanRows(q.queryExecution.executedPlan)
      // the dim's keys live in ONE of the fact's 8 clustered files
      assert(read > 0 && read <= 1000,
        s"runtime index pruning must skip the other files, read $read of 4000")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("SPJ composes with deletion vectors: zero-Exchange join, deletes honored") {
    val (cat, _, c) = freshCatalog("spjdv")
    cat.overwriteVersioned("t1",
      (1L to 400L).map(i => (i, s"p${i % 4}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.overwriteVersioned("t2",
      Seq(("p0", 0L), ("p1", 1L), ("p2", 2L), ("p3", 3L)).toDF("p", "n"),
      Seq("p"))
    cat.setTableProperty("t1", "graft.deletionVectors", "true")
    cat.deleteVectors("t1", col("id") % 10 === 3)
    val sql = s"SELECT t1.id, t2.n FROM $c.t1 t1 JOIN $c.t2 t2 ON t1.p = t2.p"
    val expected = spark.sql(sql).collect().map(_.getLong(0)).sorted // stock, shuffles
    assert(expected.length === 400 - 40, "vector deletes visible pre-SPJ")
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().map(_.getLong(0)).sorted === expected,
        "SPJ over a vectored side must not change results")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"a co-partitioned join with one vectored side must not shuffle:\n$plan")
      assert(plan.contains("GraftDvScan"), s"vectors keep the positional scan:\n$plan")
    }
  }

  test("a keyed vectored scan runs its bloom pass once") {
    // the reported key count and the executed splits come from ONE
    // split computation: planning twice launched the distributed bloom
    // job twice for a single point lookup
    val (_, root, c) = freshCatalog("dvbl")
    val bcat = new ParquetCatalog(spark, root, bloomFor = Seq("id"))
    bcat.overwriteVersioned("t",
      (1L to 8000L).map(i => (i, s"p${i % 2}", i * 1.0)).toDF("id", "p", "m")
        .repartition(4), Seq("p"))
    bcat.index("t", Seq("id"))
    bcat.setTableProperty("t", "graft.deletionVectors", "true")
    bcat.deleteVectors("t", col("id") === 7L)
    val bloomJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.exists(_.details.contains("bloomCandidatesAny")))
          bloomJobs.incrementAndGet()
    }
    withSpj {
      spark.sparkContext.addSparkListener(listener)
      try {
        val q = spark.sql(s"SELECT id, p, m FROM $c.t WHERE id = 4321")
        assert(q.collect().map(_.getLong(0)).toSeq === Seq(4321L))
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("GraftDvScan"), plan)
        org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(bloomJobs.get() === 1, "one point lookup, one bloom pass")
  }

  test("compaction preserves bucket layouts (OPTIMIZE semantics, r19)") {
    // an unstated partitionBy used to FLATTEN the layout — on a
    // declared-bucket table that silently demoted _gbucket to a data
    // column and every later join shuffled; compaction now defaults to
    // the current layout on both doors
    val (cat, _, c) = freshCatalog("cmpb")
    cat.overwriteBucketedVersioned("f",
      (1L to 2000L).map(i => (i, s"d${i % 3}", i * 1.0))
        .toDF("id", "day", "m"),
      "id", 8, partitionBy = Seq("day"))
    cat.overwriteBucketedVersioned("g",
      (1L to 1500L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    cat.compact("f", rowsPerFile = 500)
    assert(cat.layout("f") ===
      Seq("day", graft.storage.ParquetCatalog.BucketPartCol))
    val sql = s"SELECT f.id, g.tag FROM $c.f f JOIN $c.g g " +
      s"ON f.id = g.id WHERE f.day = 'd1'"
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().length === 500)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
        "the compacted layout must keep zipping")
    }
    cat.sql(s"OPTIMIZE f") // the SQL door passes the layout explicitly
    assert(cat.layout("f") ===
      Seq("day", graft.storage.ParquetCatalog.BucketPartCol))
    withSpj {
      assert(spark.sql(sql).collect().length === 500)
      assert(!spark.sql(sql).queryExecution.executedPlan.toString
        .contains("Exchange"))
    }
  }

  test("NULL bucket keys stay correct under bucket SPJ") {
    // the write side routes NULL keys to pmod(hash(null), n) =
    // pmod(seed, n) — a fixed bucket — while equi-joins never match
    // NULL: inner joins must drop them, left joins must pad them,
    // both without an Exchange
    val (cat, _, c) = freshCatalog("bnul")
    cat.overwriteBucketedVersioned("f",
      ((1L to 600L).map(i => (Some(i): Option[Long], i * 2.0)) ++
        (1 to 37).map(_ => (None: Option[Long], -1.0))).toDF("id", "m"),
      "id", 8)
    cat.overwriteBucketedVersioned("g",
      (500L to 900L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    withSpj {
      val inner = spark.sql(
        s"SELECT f.id, g.tag FROM $c.f f JOIN $c.g g ON f.id = g.id")
      assert(inner.collect().length === 101, "NULL keys never equi-match")
      assert(!inner.queryExecution.executedPlan.toString.contains("Exchange"))
      val left = spark.sql(s"SELECT f.id, f.m, g.tag FROM $c.f f " +
        s"LEFT JOIN $c.g g ON f.id = g.id")
      val rows = left.collect()
      assert(rows.length === 637, "left join keeps the NULL-key rows")
      assert(rows.count(_.isNullAt(0)) === 37)
      assert(!left.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("bucket SPJ composes with deletion vectors (dv no longer loses the layout)") {
    // r19: dv wins the wrapper slot, but it now CARRIES the bucket
    // keys — a co-bucketed join where one side has vectored deletes
    // stays zero-Exchange with the deletes honored. Previously the
    // positional scan reported identity over _gbucket (useless to a
    // join on the data column) and every such join shuffled.
    val (cat, _, c) = freshCatalog("dvb")
    cat.overwriteBucketedVersioned("f",
      (1L to 2000L).map(i => (i, i * 2.0)).toDF("id", "m"), "id", 8)
    cat.overwriteBucketedVersioned("g",
      (1500L to 3000L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    cat.setTableProperty("f", "graft.deletionVectors", "true")
    cat.deleteVectors("f", col("id") % 10 === 3)
    val sql = s"SELECT f.id, f.m, g.tag FROM $c.f f JOIN $c.g g ON f.id = g.id"
    val expected = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(expected.length === 501 - 50, "vector deletes visible pre-SPJ")
    withSpj {
      val q = spark.sql(sql)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).sorted === expected,
        "bucket SPJ over a vectored side must not change results")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"a co-bucketed join with one vectored side must not shuffle:\n$plan")
      assert(plan.contains("GraftDvScan"),
        s"vectors keep the positional scan:\n$plan")
    }
  }

  test("indexed tables prune FILES on the SQL door (min/max skip before split planning)") {
    val (cat, _, c) = freshCatalog("skip")
    cat.overwriteVersioned("t",
      (1L to 10000L).map(i => (i, i * 1.0)).toDF("id", "m"))
    // clustered layout → tight per-file id ranges; 10 files
    cat.compact("t", rowsPerFile = 1000, clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    val q = spark.sql(s"SELECT id, m FROM $c.t WHERE id BETWEEN 2500 AND 3500")
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    assert(desc.contains("GraftSkipScan"), desc)
    val kept = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
    assert(kept.group(2).toInt >= 10 && kept.group(1).toInt * 2 < kept.group(2).toInt,
      s"a 1000-row range over a clustered 10-file layout must prune most files: $desc")
    assert(q.collect().map(_.getLong(0)).sorted === (2500L to 3500L).toArray,
      "pruning must be invisible to results")
    // a filterless scan takes the stock plan (nothing to prune on)
    val full = spark.sql(s"SELECT count(*) FROM $c.t")
    assert(full.as[Long].head() === 10000L)
    // appended files enter the index incrementally; a fresh key is found
    cat.appendVersioned("t", Seq((20000L, 2.0)).toDF("id", "m"))
    assert(spark.sql(s"SELECT id FROM $c.t WHERE id = 20000")
      .as[Long].collect() === Array(20000L))
    assert(spark.sql(s"SELECT count(*) FROM $c.t WHERE id <= 10000")
      .as[Long].head() === 10000L)
    // vectored tables index-prune too: the positional scan (one file
    // per partition) drops non-candidate files before planning
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    cat.deleteVectors("t", col("id") === 2600L)
    val dvq = spark.sql(s"SELECT id FROM $c.t WHERE id BETWEEN 2500 AND 3500")
    val dvDesc = dvq.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    assert(dvDesc.contains("GraftDvScan"), dvDesc)
    val totalFiles = cat.manifestFiles("t", cat.currentVersion("t")).size
    assert(totalFiles >= 11, s"fixture should have 11+ files, got $totalFiles")
    assert(dvq.rdd.getNumPartitions * 2 < totalFiles,
      s"vectored scan planned ${dvq.rdd.getNumPartitions} of $totalFiles files")
    assert(dvq.collect().map(_.getLong(0)).sorted ===
      (2500L to 3500L).filterNot(_ == 2600L).toArray)
  }

  test("STRING range predicates prune files through the index (r19)") {
    // string-keyed clustering (ids, ISO dates as strings) is the most
    // common 100 TB layout after numerics; the UTF-8 byte order Spark
    // compares strings with IS parquet's declared STRING stats order,
    // so min/max intersect prunes exactly like numerics — and only
    // against `BINARY:STRING` stats, never raw binary/decimal.
    val (cat, _, c) = freshCatalog("sskip")
    cat.overwriteVersioned("t",
      (1 to 8000).map(i => (f"k$i%05d", i.toLong)).toDF("name", "v"))
    cat.compact("t", rowsPerFile = 1000, clusterBy = Seq("name"))
    cat.index("t", Seq("name"))
    val q = spark.sql(
      s"SELECT name, v FROM $c.t WHERE name BETWEEN 'k02500' AND 'k03500'")
    val rows = q.collect()
    assert(rows.length === 1001)
    assert(rows.map(_.getString(0)).min === "k02500")
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    val kk = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
    assert(kk.group(2).toInt >= 8 && kk.group(1).toInt <= 3,
      s"a 1k-name band must open ~2 of ${kk.group(2)} clustered files: $desc")
    // string equality prunes the same way (range [s,s] + bloom door)
    val eq = spark.sql(s"SELECT v FROM $c.t WHERE name = 'k00042'")
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(42L))
    val desc2 = eq.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    val kk2 = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc2).get
    assert(kk2.group(1).toInt <= 2, s"point lookup must stay narrow: $desc2")
  }

  test("DECIMAL range predicates prune files through the index (r19)") {
    // int-backed decimal stats are exact UNSCALED integers; a
    // DECIMAL(12,2) predicate converts to the same units and prunes an
    // amount-clustered layout, gated variant-exactly on the
    // `DECIMAL(p,s)` annotation so mismatched or binary-backed files
    // keep conservatively
    import org.apache.spark.sql.types.DecimalType
    val (cat, _, c) = freshCatalog("dskip")
    val df = (1 to 8000).map(i => (i.toLong, BigDecimal(i, 2)))
      .toDF("id", "amt")
      .select(col("id"), col("amt").cast(DecimalType(12, 2)).as("amt"))
    cat.overwriteVersioned("t", df)
    cat.compact("t", rowsPerFile = 1000, clusterBy = Seq("amt"))
    cat.index("t", Seq("amt"))
    val q = spark.sql(
      s"SELECT id, amt FROM $c.t WHERE amt BETWEEN 25.00 AND 35.00")
    val rows = q.collect()
    assert(rows.length === 1001)
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    val kk = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
    assert(kk.group(2).toInt >= 8 && kk.group(1).toInt <= 3,
      s"a 10-unit band must open ~2 of ${kk.group(2)} amount-clustered files: $desc")
    // metadata MIN/MAX answers from the index for int-backed decimals
    // too (exact unscaled stats — unlike the refused binary form)
    val mm = spark.sql(s"SELECT MIN(amt) AS mn, MAX(amt) AS mx FROM $c.t")
    val r = mm.head()
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.01")) == 0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("80.00")) == 0)
    assert(mm.queryExecution.executedPlan.toString
      .contains("GraftCountStarScan"),
      "decimal MIN/MAX must answer from metadata")
  }

  test("staged LTZ timestamps write MICROS stats: prunable + metadata MIN/MAX (r19)") {
    // Spark's default writer stores TimestampType as INT96 (no stats);
    // the stage path now opts LTZ columns into TIMESTAMP_MICROS, so
    // self-written event-time columns skip files and answer MIN/MAX
    // from metadata like every other type
    val (cat, _, c) = freshCatalog("ltz")
    val base = 1577836800000L // 2020-01-01T00:00:00Z
    val df = (0 until 8000)
      .map(i => (i.toLong, new java.sql.Timestamp(base + i * 3600000L)))
      .toDF("id", "ts")
    cat.overwriteVersioned("t", df)
    cat.compact("t", rowsPerFile = 1000, clusterBy = Seq("ts"))
    cat.index("t", Seq("ts"))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try {
      val q = spark.sql(s"SELECT id, ts FROM $c.t WHERE ts BETWEEN " +
        "TIMESTAMP'2020-04-15 00:00:00' AND TIMESTAMP'2020-05-15 00:00:00'")
      assert(q.collect().length === 721) // hourly rows in the 30-day window
      val desc = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head
      val kk = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
      assert(kk.group(2).toInt >= 8 && kk.group(1).toInt <= 3,
        s"a 30-day window must open ~1 of ${kk.group(2)} time-clustered files: $desc")
      val mm = spark.sql(s"SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM $c.t")
      val r = mm.head()
      assert(r.getTimestamp(0).getTime === base)
      assert(r.getTimestamp(1).getTime === base + 7999L * 3600000L)
      assert(mm.queryExecution.executedPlan.toString
        .contains("GraftCountStarScan"),
        "LTZ MIN/MAX must answer from metadata once stats exist")
    } finally spark.conf.unset("spark.sql.session.timeZone")
  }

  test("DATE range predicates prune files through the index (raw epoch units)") {
    val (cat, _, c) = freshCatalog("dskip")
    val base = java.time.LocalDate.of(2024, 1, 1)
    val rows = (0 until 4000).map { i =>
      (i.toLong, java.sql.Date.valueOf(base.plusDays(i / 10)))
    }
    cat.overwriteVersioned("t", rows.toDF("id", "d"))
    cat.compact("t", rowsPerFile = 500, clusterBy = Seq("d")) // 8 files
    cat.index("t", Seq("d"))
    val q = spark.sql(
      s"SELECT id FROM $c.t WHERE d BETWEEN DATE'2024-02-01' AND DATE'2024-02-10'")
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    val kept = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
    assert(kept.group(2).toInt === 8 && kept.group(1).toInt * 2 < 8,
      s"a 10-day window over a year-clustered layout must prune: $desc")
    val expected = rows.filter { case (_, dt) =>
      val ld = dt.toLocalDate
      !ld.isBefore(java.time.LocalDate.of(2024, 2, 1)) &&
        !ld.isAfter(java.time.LocalDate.of(2024, 2, 10))
    }.map(_._1).sorted
    assert(q.as[Long].collect().sorted === expected.toArray,
      "date pruning must be invisible to results")
  }

  test("bloom filters prune SQL-door point lookups on random layouts") {
    val (plainCat, root, c) = freshCatalog("blm")
    // write through a bloomFor catalog over the same root: blooms are a
    // write-time file property; the registered catalog reads them back
    val bcat = new ParquetCatalog(spark, root, bloomFor = Seq("id"))
    bcat.overwriteVersioned("t",
      (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "m").repartition(8))
    bcat.index("t", Seq("id"))
    def desc(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head
    val q = spark.sql(s"SELECT id, m FROM $c.t WHERE id = 12345")
    val d = desc(q)
    assert(d.contains("GraftSkipScan"), d)
    val kept = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(d).get
    // min/max is useless here (every round-robin file spans the key
    // space) — only the blooms can prune, to ~1 file + false positives
    assert(kept.group(2).toInt === 8 && kept.group(1).toInt * 2 < 8,
      s"blooms must prune a random layout: $d")
    assert(q.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) ===
      Seq((12345L, 12345.0)))
    // an IN-list probe blooms each value once per footer: a file
    // survives when ANY listed key might be present
    val dIn = desc(spark.sql(s"SELECT id FROM $c.t WHERE id IN (12345, 17)"))
    val keptIn = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(dIn).get
    assert(keptIn.group(2).toInt === 8 && keptIn.group(1).toInt * 2 < 8,
      s"IN blooms must prune: $dIn")
    assert(spark.sql(s"SELECT id FROM $c.t WHERE id IN (12345, 17)")
      .as[Long].collect().sorted === Array(17L, 12345L))
    // a bloom-less table: the one-footer probe suppresses the
    // distributed pass; every file stays a candidate (conservative)
    plainCat.overwriteVersioned("u",
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "m").repartition(4))
    plainCat.index("u", Seq("id"))
    val d2 = desc(spark.sql(s"SELECT id FROM $c.u WHERE id = 77"))
    val kept2 = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(d2).get
    assert(kept2.group(1) === kept2.group(2),
      s"without blooms a point probe keeps every file: $d2")
    // compact DECIMAL point lookups bloom as their unscaled long (r19)
    // — the exact physical value the column's filter was built over
    import org.apache.spark.sql.types.DecimalType
    val dcat = new ParquetCatalog(spark, root, bloomFor = Seq("amt"))
    dcat.overwriteVersioned("v",
      (1L to 20000L).map(i => (i, BigDecimal(i, 2))).toDF("id", "amt")
        .select(col("id"), col("amt").cast(DecimalType(12, 2)).as("amt"))
        .repartition(8))
    dcat.index("v", Seq("amt"))
    val qd = spark.sql(s"SELECT id FROM $c.v WHERE amt = 123.45")
    val dd = desc(qd)
    val keptD = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(dd).get
    assert(keptD.group(2).toInt === 8 && keptD.group(1).toInt * 2 < 8,
      s"decimal blooms must prune a random layout: $dd")
    assert(qd.as[Long].collect().toSeq === Seq(12345L))
  }

  test("SELECT count(*) answers from metadata, deletion vectors subtracted") {
    val (cat, _, c) = freshCatalog("cnt")
    cat.overwriteVersioned("t",
      (1L to 5000L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
        .toDF("id", "p", "m"), Seq("p"))
    def planOf(sql: String) = {
      val q = spark.sql(sql)
      (q, q.queryExecution.executedPlan.toString)
    }
    val (q1, p1) = planOf(s"SELECT count(*) FROM $c.t")
    assert(p1.contains("GraftCountStarScan"),
      s"a bare count must never plan a file scan:\n$p1")
    assert(q1.as[Long].head() === 5000L)
    // vectored deletes subtract exactly (per-file pointer sidecars)
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    cat.deleteVectors("t", col("id") % 10L === 0L)
    cat.deleteVectors("t", col("id") === 1L)
    val (q2, p2) = planOf(s"SELECT count(*) FROM $c.t")
    assert(p2.contains("GraftCountStarScan"), p2)
    assert(q2.as[Long].head() === 5000L - 500L - 1L)
    // time travel counts THAT version
    assert(spark.sql(s"SELECT count(*) FROM $c.t VERSION AS OF 1")
      .as[Long].head() === 5000L)
    // anything beyond a bare count takes the real scan
    val (qf, pf) = planOf(s"SELECT count(*) FROM $c.t WHERE id > 100")
    assert(!pf.contains("GraftCountStarScan"), pf)
    assert(qf.as[Long].head() === 4410L) // 101..5000 minus %10==0 (490)
    val (qc, pc) = planOf(s"SELECT count(id) FROM $c.t")
    assert(!pc.contains("GraftCountStarScan"), "count(col) has NULL semantics")
    assert(qc.as[Long].head() === 4499L)
    val (qg, pg) = planOf(s"SELECT p, count(*) FROM $c.t GROUP BY p")
    assert(!pg.contains("GraftCountStarScan"))
    assert(qg.count() === 2L)
  }

  test("metadata MIN/MAX/COUNT(col) fold the index; unsound shapes route to the scan") {
    val (cat, _, c) = freshCatalog("magg")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // nullable measure: every third row's m is NULL
    val rows = (1L to 3000L).map(i =>
      Row(i, if (i % 3 == 0) null else i * 1.0)).asJava
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("m", DoubleType))))
    cat.overwriteVersioned("t", df.repartition(6))
    cat.index("t", Seq("id", "m"))
    val q = spark.sql(
      s"SELECT count(*) AS n, count(m) AS nm, min(id) AS lo, max(id) AS hi FROM $c.t")
    assert(q.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().head.toSeq === Seq(3000L, 2000L, 1L, 3000L))
    // a DOUBLE min/max must NOT answer from stats (NaN/-0.0 footer
    // semantics) — the whole aggregate routes to the real scan
    val dq = spark.sql(s"SELECT min(m) AS lo FROM $c.t")
    assert(!dq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
    assert(dq.collect().head.getDouble(0) === 1.0)
    // count(DISTINCT m) is never metadata-answerable
    val dd = spark.sql(s"SELECT count(DISTINCT m) AS d FROM $c.t")
    assert(!dd.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
    assert(dd.collect().head.getLong(0) === 2000L)
    // vectors kill MIN/MAX and COUNT(col) (an extremal/non-null row may
    // be deleted) but the bare COUNT still subtracts positions
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    cat.deleteVectors("t", col("id") <= 10L)
    val vq = spark.sql(s"SELECT min(id) AS lo FROM $c.t")
    assert(!vq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
    assert(vq.collect().head.getLong(0) === 11L)
    val vc = spark.sql(s"SELECT count(*) AS n FROM $c.t")
    assert(vc.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
    assert(vc.collect().head.getLong(0) === 2990L)
  }

  test("metadata MIN/MAX answers for STRINGS when stats are provably exact (r20)") {
    val (cat, _, c) = freshCatalog("smm")
    cat.overwriteVersioned("t",
      (1 to 5000).map(i => (f"k$i%05d", i.toLong)).toDF("name", "v")
        .repartition(6))
    cat.index("t", Seq("name"))
    val q = spark.sql(s"SELECT min(name) AS lo, max(name) AS hi FROM $c.t")
    assert(q.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().head.toSeq === Seq("k00001", "k05000"))
    // long values answer too: graft's writer pins footer-stat
    // truncation OFF, so a staged file's recorded extreme IS a value
    val (cat2, _, c2) = freshCatalog("smml")
    val long = "x" * 80
    cat2.overwriteVersioned("t",
      (1 to 100).map(i => (f"$long$i%04d", i.toLong)).toDF("name", "v"))
    cat2.index("t", Seq("name"))
    val lq = spark.sql(s"SELECT min(name) AS lo FROM $c2.t")
    assert(lq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      lq.queryExecution.executedPlan.toString)
    assert(lq.collect().head.getString(0) === s"${long}0001")
    // ABSORBED (migrated) files keep their original names — an unknown
    // writer may truncate string stats into boundary-adjusted BOUNDS,
    // so string extremes refuse there while numerics still answer
    val (cat4, root4, c4) = freshCatalog("smma")
    (1 to 100).map(i => (f"m$i%04d", i)).toDF("name", "v").write.parquet(s"$root4/t")
    cat4.setTableProperty("t", ParquetCatalog.IndexForProp, "name,v")
    val aq = spark.sql(s"SELECT min(name) AS lo FROM $c4.t")
    assert(!aq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      "absorbed files' string stats must refuse the metadata fold")
    assert(aq.collect().head.getString(0) === "m0001")
    val nq = spark.sql(s"SELECT max(v) AS hi FROM $c4.t")
    assert(nq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      "numeric extremes still answer on absorbed files")
    assert(nq.collect().head.getInt(0) === 100)
    // invalid-UTF-8 strings carry LOSSY stats — refuse, scan answers
    val (cat3, _, c3) = freshCatalog("smmb")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val rows = (1 to 50).map(i =>
      Row(Array[Byte](0xFF.toByte, (i % 100).toByte))).asJava
    val bdf = spark.createDataFrame(rows,
      StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast("string").as("s"))
    cat3.overwriteVersioned("t", bdf)
    cat3.index("t", Seq("s"))
    val bq = spark.sql(s"SELECT max(s) AS hi FROM $c3.t")
    assert(!bq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      "lossy string stats must refuse the metadata fold")
    assert(bq.collect().head.getString(0) ===
      cat3.read("t").agg(max(col("s"))).head().getString(0))
  }

  test("metadata MIN/MAX tolerates vectors when an unvectored file attains the extreme (r20)") {
    val (cat, _, c) = freshCatalog("mmdv")
    // two key-disjoint files: low [1..1000] and high [2001..3000]
    cat.overwriteVersioned("t",
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "m").coalesce(1))
    cat.appendVersioned("t",
      (2001L to 3000L).map(i => (i, i * 1.0)).toDF("id", "m").coalesce(1))
    cat.index("t", Seq("id"))
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    cat.deleteVectors("t", col("id") === 2500L) // vector on the HIGH file only
    // min attained by the UNVECTORED low file: its extremal row
    // provably survives — answers from metadata
    val q = spark.sql(s"SELECT min(id) AS lo FROM $c.t")
    assert(q.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      q.queryExecution.executedPlan.toString)
    assert(q.head().getLong(0) === 1L)
    // max attained ONLY by the vectored file (its max row may be the
    // deleted one): refuses, the real scan answers
    val mq = spark.sql(s"SELECT max(id) AS hi FROM $c.t")
    assert(!mq.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      "a vectored extremal file must refuse the metadata fold")
    assert(mq.head().getLong(0) === 3000L)
    // and when the vector actually deletes the extreme, the scan's
    // answer moves — the refusal was load-bearing
    cat.deleteVectors("t", col("id") === 3000L)
    assert(spark.sql(s"SELECT max(id) AS hi FROM $c.t").head().getLong(0)
      === 2999L)
  }

  test("metadata MIN/MAX/COUNT answer for TIME-TRAVELED versions (footer fallback)") {
    val (cat, _, c) = freshCatalog("mtt")
    cat.overwriteVersioned("t",
      (1L to 500L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.index("t", Seq("id"))
    // v2 replaces everything: the reconciled index drops v1's files
    cat.overwriteVersioned("t",
      (1000L to 1100L).map(i => (i, i * 1.0)).toDF("id", "m"))
    val q = spark.sql(
      s"SELECT min(id) AS lo, max(id) AS hi, count(id) AS n " +
        s"FROM $c.t VERSION AS OF 1")
    assert(q.queryExecution.executedPlan.toString.contains("GraftCountStarScan"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().head.toSeq === Seq(1L, 500L, 500L),
      "the traveled version's footers answer, not the current index")
    // current version still answers from the index
    val cur = spark.sql(s"SELECT min(id) AS lo, max(id) AS hi FROM $c.t")
    assert(cur.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
    assert(cur.collect().head.toSeq === Seq(1000L, 1100L))
  }

  test("pruning edges: everything-pruned scans and empty tables stay correct") {
    val (cat, _, c) = freshCatalog("edge")
    cat.overwriteVersioned("t",
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.compact("t", rowsPerFile = 250, clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    // a predicate outside every file's range prunes ALL files
    val none = spark.sql(s"SELECT id FROM $c.t WHERE id > 5000")
    val d = none.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    assert(d.contains("kept=0 of 4 files"), d)
    assert(none.count() === 0L)
    // an empty partitioned table under SPJ: zero input partitions, no crash
    cat.overwriteVersioned("e",
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.StringType)))), Seq("p"))
    withSpj {
      assert(spark.sql(s"SELECT * FROM $c.e").count() === 0L)
      assert(spark.sql(
        s"SELECT t.p FROM $c.e t JOIN $c.e u ON t.p = u.p").count() === 0L)
    }
  }

  test("the wrapper stack composes: vectors + index + SPJ conf + metadata count") {
    val (cat, _, c) = freshCatalog("stack")
    cat.overwriteVersioned("t",
      (1L to 4000L).map(i => (i, s"p${i % 2}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.compact("t", rowsPerFile = 500, partitionBy = Seq("p"),
      clusterBy = Seq("id"))
    cat.index("t", Seq("id"))
    cat.setTableProperty("t", "graft.deletionVectors", "true")
    cat.deleteVectors("t", col("id") % 100 === 7)
    def desc(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.headOption.getOrElse("")
    withSpj {
      // bare count: metadata path wins over every scan wrapper, and the
      // vectored positions subtract (served from the INDEXED fast path)
      val cnt = spark.sql(s"SELECT count(*) FROM $c.t")
      assert(cnt.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
      assert(cnt.as[Long].head() === 4000L - 40L)
      // a range query: vectored tables keep the positional scan (never
      // SPJ), which still file-skips through the index
      val q = spark.sql(s"SELECT id FROM $c.t WHERE id BETWEEN 100 AND 600")
      val d = desc(q)
      assert(d.contains("GraftDvScan"), d)
      assert(q.collect().map(_.getLong(0)).sorted ===
        (100L to 600L).filterNot(_ % 100 == 7).toArray)
      assert(q.rdd.getNumPartitions * 2 <
        cat.manifestFiles("t", cat.currentVersion("t")).size,
        "the vectored scan must have index-pruned its one-file partitions")
    }
  }

  test("graft.bloomFor / graft.indexFor TBLPROPERTIES make a SQL-only table self-skipping") {
    val (cat, root, c) = freshCatalog("props")
    spark.sql(
      s"""CREATE TABLE $c.t
          TBLPROPERTIES('graft.bloomFor'='id', 'graft.indexFor'='id',
                        'graft.bloomNdv'='50000')
          AS SELECT /*+ REPARTITION(8) */ id, CAST(id * 1.5 AS DOUBLE) AS m
             FROM range(0, 4000)""")
    spark.sql(s"INSERT INTO $c.t " +
      s"SELECT /*+ REPARTITION(4) */ id, CAST(id * 1.5 AS DOUBLE) FROM range(4000, 6000)")
    // the index self-materialized and covers BOTH batches' files
    assert(graft.storage.SkippingIndex.existsAt(cat.statsPath("t")))
    val stats = graft.storage.SkippingIndex.readAt(cat.statsPath("t"))
    val live = cat.manifestFiles("t", cat.currentVersion("t")).size
    assert(stats.size === live, s"both commits indexed: ${stats.size} vs $live")
    // 0-row files (an empty write partition) carry no stats and no
    // blooms — they are unconditional candidates, so exclude them from
    // the per-file pins
    val nonEmpty = stats.filter(_.rows > 0)
    assert(nonEmpty.nonEmpty && nonEmpty.forall(_.cols.exists(_.column == "id")))
    // every non-empty file carries a parquet native bloom for id —
    // including the INSERT-appended ones
    assert(nonEmpty.map(_.file).forall(f =>
      graft.storage.SkippingIndex.hasBloomFilter(spark, f, "id")))
    // a point lookup through plain SQL prunes via those blooms (random
    // layout: min/max cannot help)
    val q = spark.sql(s"SELECT id, m FROM $c.t WHERE id = 4321")
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((4321L, 6481.5)))
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.headOption.getOrElse("")
    val m = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"expected the skip wrapper: $desc")
    assert(m.get.group(2).toInt === live)
    assert(m.get.group(1).toInt * 2 < live,
      s"blooms must prune the point lookup: $desc")
    // a metadata-only RENAME carries the declarations to the new name:
    // files staged AFTER the rename still get blooms + index entries
    spark.sql(s"ALTER TABLE $c.t RENAME COLUMN id TO ident")
    assert(cat.tableProperties("t")(graft.storage.ParquetCatalog.BloomForProp)
      === "ident")
    assert(cat.tableProperties("t")(graft.storage.ParquetCatalog.IndexForProp)
      === "ident")
    spark.sql(s"INSERT INTO $c.t " +
      s"SELECT /*+ REPARTITION(2) */ id, CAST(id * 1.5 AS DOUBLE) FROM range(6000, 7000)")
    val after = graft.storage.SkippingIndex.readAt(cat.statsPath("t"))
      .filter(_.file.contains("/v"))
    val newFiles = after.filter(fs => fs.rows > 0 &&
      !stats.exists(_.file == fs.file))
    assert(newFiles.nonEmpty)
    assert(newFiles.forall(_.cols.exists(_.column == "ident")),
      s"post-rename files must index the NEW name: ${newFiles.map(_.cols)}")
    assert(newFiles.map(_.file).forall(f =>
      graft.storage.SkippingIndex.hasBloomFilter(spark, f, "ident")),
      "post-rename files must carry blooms under the NEW name")
  }

  test("dynamic partition pruning engages on the SQL door (runtime V2 filtering)") {
    val (cat, _, c) = freshCatalog("dpp")
    // 6 partitions, several files each; the dim filter names ONE
    cat.overwriteVersioned("fact",
      (1L to 600L).map(i => (i, s"p${i % 6}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.overwriteVersioned("dim",
      Seq(("p1", 1L), ("p2", 2L), ("p3", 3L)).toDF("p", "n"))
    val sql = s"SELECT f.id, d.n FROM $c.fact f JOIN $c.dim d " +
      s"ON f.p = d.p WHERE d.n = 1"
    // ground truth with DPP off (the stock pre-r18 behavior)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val expected =
      try spark.sql(sql).collect().map(_.getLong(0)).sorted
      finally spark.conf
        .unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    val q = spark.sql(sql)
    assert(q.collect().map(_.getLong(0)).sorted === expected,
      "DPP must never change results")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a runtime filter on the fact scan:\n$plan")
    // the scan description re-reads the post-filter state: of the 6
    // partitions' files, only p1's survived
    val m = "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected the skip wrapper on a partitioned table:\n$plan")
    assert(m.get.group(1).toInt * 3 <= m.get.group(2).toInt,
      s"runtime filter must have dropped the other partitions' files: ${m.get}")
  }

  test("index-tightened estimates: a filtered clustered scan reports its slice, not the table") {
    val (cat, _, c) = freshCatalog("est")
    cat.overwriteVersioned("big",
      (1L to 100000L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.compact("big", rowsPerFile = 10000, clusterBy = Seq("id"))
    cat.index("big", Seq("id"))
    def relStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.head
    val full = relStats(spark.sql(s"SELECT id, m FROM $c.big"))
    val slice = relStats(
      spark.sql(s"SELECT id, m FROM $c.big WHERE id BETWEEN 20001 AND 30000"))
    // a small prefix of the ten files survives the index (range
    // sampling can put 2-3 files across the band): bytes shrink
    assert(slice.sizeInBytes * 2 <= full.sizeInBytes,
      s"slice ${slice.sizeInBytes} vs full ${full.sizeInBytes}")
    // the filtered relation carries the EXACT index row sum of its
    // kept files (compaction's range sampling makes files uneven, and
    // a boundary can straddle two — bound, not equality); the
    // unfiltered scan keeps the stock estimate (no rowCount)
    assert(slice.rowCount.exists(rc => rc >= 10000 && rc * 2 <= 100000),
      s"index-backed row bound expected, got ${slice.rowCount}")
    assert(full.rowCount.isEmpty,
      "no conjuncts, no tightening - stock estimate passes through")
    // the bound is an estimate, never a truth source: results unchanged
    assert(spark.sql(s"SELECT count(*) FROM $c.big WHERE id BETWEEN 20001 AND 30000")
      .head().getLong(0) === 10000L)
    // BUCKETED tables tighten too (r20): batch-appended id bands give
    // each cell file a tight id range (the production shape — time/id
    // monotonic appends), and under the SPJ wrapper a filtered slice
    // must not look full-table-sized to the broadcast planner
    def band(b: Long) = ((b - 1) * 10000L + 1 to b * 10000L)
      .map(i => (i, i % 7, i * 1.0)).toDF("id", "grp", "m")
    cat.overwriteBucketedVersioned("bb", band(1), "grp", 4)
    // engine-door appends derive the hidden bucket id themselves (r20
    // — parity with INSERT INTO, which always could)
    (2L to 10L).foreach(b => cat.appendVersioned("bb", band(b)))
    cat.index("bb", Seq("id"))
    assert(spark.sql(s"SELECT count(*) FROM $c.bb").head().getLong(0)
      === 100000L)
    val derived = spark.sql(
      s"SELECT count(*) FROM $c.bb WHERE _gbucket <> pmod(hash(grp), 4)")
    assert(derived.head().getLong(0) === 0L,
      "engine-door appends must derive correct bucket ids")
    withSpj {
      val fullB = relStats(spark.sql(s"SELECT id, grp, m FROM $c.bb"))
      val sliceB = relStats(spark.sql(
        s"SELECT id, grp, m FROM $c.bb WHERE id BETWEEN 20001 AND 30000"))
      assert(sliceB.sizeInBytes * 2 <= fullB.sizeInBytes,
        s"SPJ slice ${sliceB.sizeInBytes} vs full ${fullB.sizeInBytes}")
    }
  }

  test("dynamic FILE pruning: runtime join filters drive the min/max index") {
    val (cat, _, c) = freshCatalog("dfp")
    // fact: UNPARTITIONED, key-clustered + indexed — the layout where
    // partition pruning can't help but the index can
    cat.overwriteVersioned("fact",
      (1L to 10000L).map(i => (i, i * 1.0)).toDF("id", "m"))
    cat.compact("fact", rowsPerFile = 1000, clusterBy = Seq("id"))
    cat.index("fact", Seq("id"))
    // dim: few keys, all in one narrow band of the fact's key space
    cat.overwriteVersioned("dim",
      Seq((2100L, 1L), (2200L, 1L), (2300L, 2L)).toDF("id", "n"))
    val sql = s"SELECT f.id, f.m FROM $c.fact f JOIN $c.dim d " +
      s"ON f.id = d.id WHERE d.n = 1"
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val expected =
      try spark.sql(sql).collect().map(_.getLong(0)).sorted
      finally spark.conf
        .unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    assert(expected === Array(2100L, 2200L))
    val q = spark.sql(sql)
    assert(q.collect().map(_.getLong(0)).sorted === expected,
      "dynamic file pruning must never change results")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a runtime filter on the fact scan:\n$plan")
    val m = "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected the skip wrapper:\n$plan")
    assert(m.get.group(2).toInt === 10)
    assert(m.get.group(1).toInt <= 2,
      s"the dim's narrow key band must prune the clustered fact files: ${m.get}")
  }

  test("dynamic FILE pruning over STRING join keys (runtime UTF-8 envelope)") {
    // r19: a string-keyed fact-dim join runtime-prunes the fact by the
    // dim keys' UTF-8 [min,max] envelope — no declared blooms needed,
    // and the 64-value bloom cap does not gate the (always-cheap)
    // envelope
    val (cat, _, c) = freshCatalog("ssdfp")
    cat.overwriteVersioned("f",
      (1 to 8000).map(i => (f"k$i%05d", i.toLong)).toDF("name", "v"))
    cat.compact("f", rowsPerFile = 1000, clusterBy = Seq("name"))
    cat.index("f", Seq("name"))
    cat.overwriteVersioned("dim",
      (2500 to 2700).map(i => (f"k$i%05d", 1L)).toDF("name", "n"))
    val sql = s"SELECT f.name, f.v FROM $c.f f " +
      s"JOIN $c.dim d ON f.name = d.name WHERE d.n = 1"
    val expected = spark.sql(sql).collect().map(_.getString(0)).sorted
    assert(expected.length === 201)
    val q = spark.sql(sql)
    assert(q.collect().map(_.getString(0)).sorted === expected,
      "runtime string pruning must never change results")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"expected a runtime filter:\n$plan")
    val kk = "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r
      .findFirstMatchIn(plan).get
    assert(kk.group(1).toInt * 2 < kk.group(2).toInt,
      s"the dim's 201-name band lives in ~1 of ${kk.group(2)} files:\n$plan")
  }

  test("dynamic partition pruning composes with deletion vectors") {
    val (cat, _, c) = freshCatalog("dppdv")
    cat.overwriteVersioned("fact",
      (1L to 600L).map(i => (i, s"p${i % 6}", i * 1.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.setTableProperty("fact", "graft.deletionVectors", "true")
    cat.deleteVectors("fact", col("id") % 10 === 3)
    cat.overwriteVersioned("dim",
      Seq(("p1", 1L), ("p2", 2L), ("p4", 4L)).toDF("p", "n"))
    // the selective dim filter is what makes Spark inject the runtime
    // pruning subquery on the fact side
    val q = spark.sql(
      s"SELECT f.id FROM $c.fact f JOIN $c.dim d ON f.p = d.p WHERE d.n = 1")
    val got = q.collect().map(_.getLong(0)).sorted
    assert(got === (1L to 600L).filter(i => i % 6 == 1 && i % 10 != 3).toArray,
      "vector-deleted rows stay deleted under DPP")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftDvScan"), plan)
    assert(plan.contains("dynamicpruning"),
      s"expected a runtime filter on the vectored fact scan:\n$plan")
  }

  test("clustered write distribution: one file per (partition × bucket) cell (r20)") {
    val (cat, _, c) = freshCatalog("cwd")
    // a deliberately MANY-task frame: stage used to write the caller's
    // task layout verbatim, landing up to 16 tasks × 3 days × 16
    // buckets files per batch — the 100 TB file-count explosion
    val df = (1L to 6000L).map(i => (i, s"d${i % 3}", i * 1.0))
      .toDF("id", "day", "m").repartition(16)
    cat.overwriteBucketedVersioned("f", df, "id", 16,
      partitionBy = Seq("day"))
    val cells = 3 * 16
    def maxPerCell(): Long = cat.read("f")
      .select(col("day"), col("_gbucket"), input_file_name().as("fn"))
      .groupBy("day", "_gbucket").agg(countDistinct(col("fn")).as("nf"))
      .agg(max(col("nf"))).as[Long].head()
    assert(cat.fileCount("f") <= cells,
      s"${cat.fileCount("f")} files for $cells cells")
    assert(maxPerCell() === 1L,
      "a multi-task overwrite must land exactly one file per cell")
    // a multi-task INSERT batch adds AT MOST one more file per cell
    spark.sql(s"INSERT INTO $c.f SELECT id + 10000, 1.0, " +
      s"concat('d', CAST(id % 3 AS STRING)), 0 FROM range(3000)")
    assert(maxPerCell() <= 2L, "one batch = at most one file per cell")
    assert(cat.fileCount("f") <= 2L * cells)
    // bare OPTIMIZE bin-packs back to one file per cell and the layout
    // keeps zipping
    cat.sql("OPTIMIZE f")
    assert(maxPerCell() === 1L)
    // slice-scoped OPTIMIZE WHERE rides the same cell distribution
    spark.sql(s"INSERT INTO $c.f SELECT id + 20000, 2.0, 'd1', 0 " +
      s"FROM range(500)")
    cat.sql("OPTIMIZE f WHERE day = 'd1'")
    assert(maxPerCell() === 1L)
    // compaction is a rewrite job: it bin-packs cells even when the
    // write-path distribution kill switch is off
    spark.conf.set("spark.graft.write.distributeByLayout", "false")
    try {
      spark.sql(s"INSERT INTO $c.f SELECT id + 30000, 3.0, " +
        s"concat('d', CAST(id % 3 AS STRING)), 0 FROM range(2000)")
      cat.sql("OPTIMIZE f")
      assert(maxPerCell() === 1L,
        "OPTIMIZE must compact even with write distribution off")
    } finally spark.conf.unset("spark.graft.write.distributeByLayout")
    cat.overwriteBucketedVersioned("dim",
      (1L to 3000L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 16)
    withSpj {
      val q = spark.sql(
        s"SELECT f.id, d.tag FROM $c.f f JOIN $c.dim d ON f.id = d.id")
      assert(q.collect().length === 3000)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"distributed writes must preserve the zipped layout:\n$plan")
    }
  }

  test("declarative clustering: graft.clusterBy drives bare OPTIMIZE, follows renames (r20)") {
    val (cat, _, c) = freshCatalog("dcl")
    spark.sql(s"CREATE TABLE $c.t (k BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.clusterBy'='k', 'graft.indexFor'='k')")
    // scattered inserts: every file spans most of the key space
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $c.t SELECT CAST(pmod(hash(id + ${i * 7919}), " +
        s"6000) AS BIGINT), 1.0 FROM range(2000)")
    }
    def keptOf(sqlText: String): (Int, Int) = {
      val q = spark.sql(sqlText)
      val desc = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head
      val m = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    def kept(colName: String): (Int, Int) =
      keptOf(s"SELECT * FROM $c.t WHERE $colName BETWEEN 100 AND 600")
    val (a0, b0) = kept("k")
    assert(a0 === b0, s"scattered layout should keep all files: $a0 of $b0")
    // bare OPTIMIZE — no ZORDER clause anywhere — picks up the DECLARED
    // cluster key
    cat.sql("OPTIMIZE t ROWS 1000")
    val (a1, b1) = kept("k")
    assert(b1 >= 5 && a1 * 2 < b1,
      s"declared clusterBy must cluster a bare OPTIMIZE: kept $a1 of $b1")
    // the declaration FOLLOWS a column rename, like bloomFor/indexFor
    spark.sql(s"ALTER TABLE $c.t RENAME COLUMN k TO kk")
    assert(cat.tableProperties("t")(ParquetCatalog.ClusterByProp) === "kk")
    val (a2, b2) = kept("kk")
    assert(a2 * 2 < b2, "clustering survives the rename")
    // clusterBy and zorderBy are mutually exclusive at declaration
    intercept[IllegalArgumentException](
      cat.setTableProperty("t", ParquetCatalog.ZorderByProp, "v"))
    // a declaration naming a missing column refuses at declare time
    intercept[IllegalArgumentException](
      cat.setTableProperty("t", ParquetCatalog.ClusterByProp, "nope"))
    // declared zorderBy: bare engine-door compact() z-orders BOTH
    // columns (the multi-dimension skip ZOrderSpec measures)
    val (cat2, _, c2) = freshCatalog("dclz")
    cat2.overwriteVersioned("z",
      (1L to 8000L).map(i => (i % 97, (i * 31) % 89, i))
        .toDF("a", "b", "n"))
    cat2.setTableProperty("z", ParquetCatalog.ZorderByProp, "a,b")
    cat2.compact("z", rowsPerFile = 500) // bare: no cluster arguments
    cat2.index("z", Seq("a", "b"))
    val (ka, ta) = keptOf(s"SELECT * FROM $c2.z WHERE a BETWEEN 10 AND 20")
    val (kb, tb) = keptOf(s"SELECT * FROM $c2.z WHERE b BETWEEN 10 AND 20")
    assert(ta >= 8 && ka < ta && kb < tb,
      s"declared zorder must prune BOTH dimensions: a=$ka of $ta, b=$kb of $tb")
  }

  test("graft.writeSplits caps identity-partition files per batch (r20)") {
    val (cat, _, c) = freshCatalog("wsp")
    val frame = (1L to 6000L).map(i => (i, s"d${i % 3}")).toDF("id", "day")
      .repartition(16)
    cat.overwriteVersioned("t", frame, Seq("day"))
    // identity layouts get NO automatic distribution: up to 16 × 3 files
    val before = cat.fileCount("t")
    assert(before > 9, s"fixture should fragment: $before files")
    // declared cap: each day lands in at most 3 files per batch,
    // spread over 3 tasks (never collapsed into one)
    cat.setTableProperty("t", ParquetCatalog.WriteSplitsProp, "3")
    cat.overwriteVersioned("t", frame, Seq("day"))
    val after = cat.fileCount("t")
    assert(after <= 9 && after >= 6, s"expected 6..9 files, got $after")
    assert(spark.sql(s"SELECT count(*) FROM $c.t").head().getLong(0) === 6000L)
    intercept[IllegalArgumentException](
      cat.setTableProperty("t", ParquetCatalog.WriteSplitsProp, "0"))
    // OPTIMIZE's own clustering is NOT voided by the salt (compaction
    // verbs disable identity splits): a clustered rewrite under a
    // standing writeSplits declaration still range-clusters
    cat.setTableProperty("t", ParquetCatalog.ClusterByProp, "id")
    cat.setTableProperty("t", ParquetCatalog.IndexForProp, "id")
    cat.sql("OPTIMIZE t ROWS 1000")
    val q = spark.sql(s"SELECT * FROM $c.t WHERE id BETWEEN 100 AND 500")
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.head
    val kk = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc).get
    assert(kk.group(2).toInt >= 6 && kk.group(1).toInt * 2 < kk.group(2).toInt,
      s"OPTIMIZE under writeSplits must still cluster: $desc")
    assert(q.collect().length === 401)
  }

  test("composite layouts under time travel: old versions keep THEIR multi-transform keys (r20)") {
    val (cat, _, c) = freshCatalog("cttv")
    // v1: composite partitionBy(day) + bucket(8, id)
    cat.overwriteBucketedVersioned("f",
      (1L to 2000L).map(i => (i, s"d${i % 3}", i * 1.0)).toDF("id", "day", "m"),
      "id", 8, partitionBy = Seq("day"))
    val v1 = cat.currentVersion("f")
    cat.overwriteBucketedVersioned("dim8",
      (1L to 1500L).map(i => (i, s"v$i")).toDF("id", "tag"), "id", 8)
    // re-layout the fact: DIFFERENT bucket count, no identity prefix
    cat.overwriteBucketedVersioned("f",
      (1L to 2000L).map(i => (i, s"d${i % 3}", i * 2.0)).toDF("id", "day", "m"),
      "id", 16)
    cat.overwriteBucketedVersioned("dim16",
      (1L to 1500L).map(i => (i, s"w$i")).toDF("id", "tag"), "id", 16)
    // the traveled composite version zips against a dim co-bucketed to
    // ITS spec: the day filter consumes the identity component, the
    // fact degrades to bucket(8, id), zero Exchange
    val sqlOld = s"SELECT f.id, f.m, d.tag FROM $c.f VERSION AS OF $v1 f " +
      s"JOIN $c.dim8 d ON f.id = d.id WHERE f.day = 'd1'"
    val expected = spark.sql(sqlOld).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(expected.nonEmpty)
    withSpj {
      val q = spark.sql(sqlOld)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).sorted === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"the traveled composite version must zip with its own spec:\n$plan")
      assert(plan.contains("GraftSpjScan"), plan)
    }
    withSpj {
      // the CURRENT version zips against the 16-bucket dim
      val q = spark.sql(s"SELECT f.id, d.tag FROM $c.f f " +
        s"JOIN $c.dim16 d ON f.id = d.id")
      assert(q.collect().length === 1500)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
      // traveled-vs-16 is bucket-MISALIGNED: it must NOT zip (an
      // Exchange appears) and results stay correct
      val m = spark.sql(s"SELECT f.id, d.tag FROM $c.f VERSION AS OF $v1 f " +
        s"JOIN $c.dim16 d ON f.id = d.id WHERE f.day = 'd1'")
      assert(m.queryExecution.executedPlan.toString.contains("Exchange"),
        "mismatched bucket specs must shuffle, never zip wrongly")
      assert(m.collect().length === 500)
    }
  }

  test("DATE and DECIMAL bucket KEYS run zipped joins end-to-end (r20)") {
    // the bucket function hashes date/decimal byte-identically to
    // pmod(hash(col), n) (PropertySpec); this pins the WHOLE path — a
    // non-string/int key through layout, V2 function binding, and a
    // zero-Exchange co-bucketed join
    val (cat, _, c) = freshCatalog("dbk")
    val dates = (1L to 1200L).map(i => (i, java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i % 365)), i * 1.0))
      .toDF("n", "dkey", "m")
    cat.overwriteBucketedVersioned("fd", dates, "dkey", 8)
    cat.overwriteBucketedVersioned("dd",
      (0L to 364L).map(i => (java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i)), s"t$i"))
        .toDF("dkey", "tag"), "dkey", 8)
    withSpj {
      val q = spark.sql(s"SELECT f.n, d.tag FROM $c.fd f " +
        s"JOIN $c.dd d ON f.dkey = d.dkey")
      assert(q.collect().length === 1200)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"DATE-bucketed co-bucketed join must not shuffle:\n$plan")
    }
    val decs = (1L to 1200L).map(i => (i, BigDecimal(i % 500) / 100))
      .toDF("n", "k").select(col("n"),
        col("k").cast(org.apache.spark.sql.types.DecimalType(9, 2)).as("k"))
    cat.overwriteBucketedVersioned("fk", decs, "k", 8)
    cat.overwriteBucketedVersioned("dk",
      (0L to 499L).map(i => (BigDecimal(i) / 100, s"v$i")).toDF("k", "tag")
        .select(col("k").cast(org.apache.spark.sql.types.DecimalType(9, 2))
          .as("k"), col("tag")), "k", 8)
    withSpj {
      val q = spark.sql(s"SELECT f.n, d.tag FROM $c.fk f " +
        s"JOIN $c.dk d ON f.k = d.k")
      assert(q.collect().length === 1200)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"DECIMAL-bucketed co-bucketed join must not shuffle:\n$plan")
    }
  }

  test("GraftParquetFileFormat never compares equal to the stock parquet format") {
    // HadoopFsRelation / plan-cache / exchange-reuse equality must not
    // conflate a graft relation (field-id read forced on) with a stock
    // parquet relation over the same files — Delta's
    // DeltaParquetFileFormat overrides equals for the same reason
    val graftFmt = new graft.spark.GraftParquetFileFormat
    val stock = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat
    assert(graftFmt != stock, "graft format must not equal the stock format")
    assert(graftFmt == new graft.spark.GraftParquetFileFormat)
    assert(graftFmt.hashCode() ===
      (new graft.spark.GraftParquetFileFormat).hashCode())
  }

  test("a registered name refuses a different root; the same root is a no-op") {
    val a = Files.createTempDirectory("graft-cat").toString
    val b = Files.createTempDirectory("graft-cat").toString
    val name = s"grp${System.nanoTime() % 100000}"
    assert(graft.spark.GraftCatalog.register(spark, name, a) === name)
    assert(graft.spark.GraftCatalog.register(spark, name, a) === name)
    intercept[IllegalArgumentException](
      graft.spark.GraftCatalog.register(spark, name, b))
    assert(spark.conf.get(s"spark.sql.catalog.$name.root") === a)
  }

  test("k33 on a second input in one session answers from that input's catalog") {
    // Spark caches one catalog instance per name: a fixed name would
    // keep reading (and appending to) the first input's root
    val inputs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    inputs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(graft.storage.Scratch.root("ctl", d))))
    val k33 = SparkEntry.queries("k33_sql_catalog")
    val Seq(_, rows) = inputs.map(d => k33(spark, d).collect().toSeq)
    assert(rows.map(_.getAs[Long]("n_rows")) === Seq(5087L, 5145L, 5252L))
    assert(rows.map(_.getAs[String]("ops")).distinct === Seq("overwrite,append"))
    assert(rows.map(_.getAs[Long]("v1_sql_matches_api")).distinct === Seq(1L))
  }
}
