package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The catalog's SQL TEXT surface (`cat.sql`): Spark's own parser
  * produces the `VERSION/TIMESTAMP AS OF` nodes, the catalog
  * substitutes its manifest-tier reads, and the Delta extension verbs
  * (`DESCRIBE HISTORY`, `RESTORE TABLE`) dispatch on statement shape.
  * Every path is pinned against the equivalent Scala API call. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  /** v1 overwrite (3 rows) → v2 append (+1) → v3 delete (id 2). */
  private def seeded(): ParquetCatalog = {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-sqls").toString)
    cat.overwriteVersioned("t",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "p", "m"),
      Seq("p"))
    cat.appendVersioned("t", Seq((4L, "b", 40.0)).toDF("id", "p", "m"), Seq("p"))
    cat.deleteVersioned("t", col("id") === 2L)
    cat
  }

  test("SELECT ... VERSION AS OF matches the readVersion API, any SELECT shape") {
    val cat = seeded()
    assert(cat.sql("SELECT id, m FROM t VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // aggregates + qualified references around the travel clause
    assert(cat.sql(
      "SELECT t.p, count(*) AS n FROM t VERSION AS OF 2 GROUP BY t.p ORDER BY t.p")
      .as[(String, Long)].collect().toSeq === Seq(("a", 2L), ("b", 2L)))
    // two versions of the same table joined in one statement
    val gone = cat.sql("""
      SELECT v1.id FROM t VERSION AS OF 2 AS v1
      LEFT ANTI JOIN t AS cur ON v1.id = cur.id ORDER BY v1.id""")
    assert(gone.as[Long].collect().toSeq === Seq(2L))
    // plain name = current version
    assert(cat.sql("SELECT count(*) AS n FROM t").as[Long].head() === 3L)
  }

  test("TIMESTAMP AS OF resolves wall-clock exactly like readAsOf") {
    val cat = seeded()
    val t2 = cat.commitTimestamp("t", 2).get
    val viaSql = cat.sql(
      s"SELECT id, m FROM t TIMESTAMP AS OF " +
        s"timestamp_millis(${t2}) ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    val viaApi = cat.readAsOf("t", t2).select("id", "m").orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.map(_._1) === Seq(1L, 2L, 3L, 4L))
    // a string literal parses in session time; pin with a far-future one
    assert(cat.sql(
      "SELECT count(*) AS n FROM t TIMESTAMP AS OF '2999-01-01 00:00:00'")
      .as[Long].head() === 3L)
  }

  test("DESCRIBE HISTORY equals the history() API") {
    val cat = seeded()
    assert(cat.sql("DESCRIBE HISTORY t").collect().toSeq ===
      cat.history("t").collect().toSeq)
    assert(cat.sql("describe history t").select("operation")
      .as[String].collect().toSeq === Seq("overwrite", "append", "delete"))
  }

  test("RESTORE TABLE rewinds as a new commit, by version and by timestamp") {
    val cat = seeded()
    val out = cat.sql("RESTORE TABLE t TO VERSION AS OF 2").collect().head
    assert((out.getString(0), out.getLong(1), out.getLong(2)) === ("t", 2L, 4L))
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(1L, 2L, 3L, 4L))
    // TIMESTAMP form (TO optional, Delta grammar): rewind to v1's stamp
    val t1 = cat.commitTimestamp("t", 1).get
    val out2 = cat.sql(
      s"RESTORE TABLE t VERSION AS OF 1").collect().head
    assert((out2.getLong(1), out2.getLong(2)) === (1L, 5L))
    assert(cat.read("t").count() === 3L)
    val out3 = cat.sql(
      s"RESTORE TABLE t TO TIMESTAMP AS OF timestamp_millis($t1)").collect().head
    assert(out3.getLong(1) === 1L)
  }

  test("MERGE INTO routes to the transactional mergeInto") {
    val cat = seeded()
    Seq((3L, "b", 33.0), (9L, "b", 90.0)).toDF("id", "p", "m")
      .createOrReplaceTempView("updates")
    val v = cat.sql("""
      MERGE INTO t USING updates ON t.id = updates.id
      WHEN MATCHED THEN UPDATE SET m = updates.m
      WHEN NOT MATCHED THEN INSERT *""").as[Long].head()
    assert(v === cat.currentVersion("t"))
    assert(cat.read("t").select("id", "m").as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (3L, 33.0), (4L, 40.0), (9L, 90.0)))
  }

  test("VACUUM text: bare keeps current, KEEP k and RETAIN n HOURS map to the API") {
    val cat = seeded() // 3 versions
    assert(cat.sql("VACUUM t RETAIN 1000 HOURS").select("entries_removed")
      .as[Long].head() === 0L, "everything is younger than the horizon")
    assert(cat.versions("t") === Seq(1L, 2L, 3L))
    assert(cat.sql("VACUUM t KEEP 2").select("entries_removed").as[Long].head() >= 1L)
    assert(cat.versions("t") === Seq(2L, 3L))
    cat.sql("VACUUM t")
    assert(cat.versions("t") === Seq(3L))
    assert(cat.read("t").count() === 3)
  }

  test("OPTIMIZE text compacts preserving layout; ZORDER BY routes the cluster") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-sqlo").toString)
    cat.overwriteVersioned("t",
      Seq((1L, "a", 1.0)).toDF("id", "p", "m"), Seq("p"))
    (2 to 6).foreach(i => cat.appendVersioned("t",
      Seq((i.toLong, "a", i * 1.0)).toDF("id", "p", "m"), Seq("p")))
    assert(cat.fileCount("t") === 6)
    val out = cat.sql("OPTIMIZE t").collect().head
    assert(out.getString(0) === "t" && out.getLong(1) === 1L)
    assert(cat.read("t").count() === 6, "row data is bit-preserved")
    assert(cat.layout("t") === Seq("p"))
    // zorder form parses and lands as a new compact commit
    cat.sql("OPTIMIZE t ROWS 3 ZORDER BY (id, m)")
    assert(cat.read("t").count() === 6)
    assert(cat.history("t").orderBy(col("version").desc)
      .select("operation").as[String].head() === "overwrite")
  }

  test("OPTIMIZE WHERE compacts only the named partition slice") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-sqlow").toString)
    cat.overwriteVersioned("t",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "m"), Seq("p"))
    (3 to 6).foreach(i => cat.appendVersioned("t",
      Seq((i.toLong, "a", i * 1.0)).toDF("id", "p", "m"), Seq("p")))
    val bBefore = cat.manifestFiles("t", cat.currentVersion("t"))
      .filter(_.contains("p=b"))
    cat.sql("OPTIMIZE t WHERE p = 'a'")
    val after = cat.manifestFiles("t", cat.currentVersion("t"))
    assert(after.count(_.contains("p=a")) === 1, "slice collapsed to one file")
    assert(after.filter(_.contains("p=b")) === bBefore,
      "the other partition's files are re-referenced verbatim")
    assert(cat.read("t").count() === 6)
    // a non-prefix spec is refused loudly
    intercept[IllegalArgumentException](cat.sql("OPTIMIZE t WHERE m = 1.0"))
    intercept[IllegalArgumentException](cat.sql("OPTIMIZE t WHERE p > 'a'"))
  }

  test("UPDATE text: row-level update as one versioned commit") {
    val cat = seeded() // ids 1,3,4 live; v3 current
    val out = cat.sql(
      "UPDATE t SET m = m * 10 WHERE p = 'a'").collect().head
    assert(out.getString(0) === "t")
    assert(out.getLong(2) === 1L, "one row in partition a matches")
    assert(cat.read("t").select("id", "m").as[(Long, Double)].collect().toSet ===
      Set((1L, 100.0), (3L, 30.0), (4L, 40.0)))
    assert(cat.readVersion("t", 3).filter(col("id") === 1L)
      .select("m").as[Double].head() === 10.0, "pre-update version readable")
    // CASE expressions and multi-assignment parse through Catalyst
    cat.sql("UPDATE t SET m = CASE WHEN m > 50 THEN 0.0 ELSE m END, " +
      "p = upper(p) WHERE id = 1")
    assert(cat.read("t").filter(col("id") === 1L)
      .select("p", "m").as[(String, Double)].head() === (("A", 0.0)))
    // WHERE-less form updates every row
    cat.sql("UPDATE t SET m = 1.0")
    assert(cat.read("t").select("m").as[Double].collect().toSeq ===
      Seq(1.0, 1.0, 1.0))
  }

  test("UPDATE parsing: quoted WHERE is not a boundary; duplicate and miscased targets are handled") {
    val cat = seeded()
    // a ' WHERE ' inside a string literal must not split the statement
    cat.addColumn("t", "note", org.apache.spark.sql.types.StringType)
    cat.sql("UPDATE t SET note = 'use WHERE wisely'")
    assert(cat.read("t").select("note").as[String].collect().toSet ===
      Set("use WHERE wisely"))
    // duplicate SET targets are rejected (ANSI/Delta), not last-win
    val e = intercept[IllegalArgumentException](
      cat.sql("UPDATE t SET m = 1.0, m = 2.0"))
    assert(e.getMessage.contains("twice"), e.getMessage)
    intercept[IllegalArgumentException](
      cat.sql("UPDATE t SET m = 1.0, M = 2.0"))
    // Spark resolution is case-insensitive; assignment targets are too
    cat.sql("UPDATE t SET M = 7.0 WHERE id = 1")
    assert(cat.read("t").filter(col("id") === 1L)
      .select("m").as[Double].head() === 7.0)
  }

  test("VACUUM RETAIN keeps the version current at the horizon; RETAIN+KEEP is rejected") {
    val root = Files.createTempDirectory("graft-sqlvr").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq((1L, 10.0)).toDF("id", "m"))     // v1
    cat.overwriteVersioned("t", Seq((2L, 20.0)).toDF("id", "m"))     // v2
    cat.overwriteVersioned("t", Seq((3L, 30.0)).toDF("id", "m"))     // v3
    intercept[IllegalArgumentException](
      cat.sql("VACUUM t RETAIN 1 HOURS KEEP 2"))
    // cutoff between v2 and v3: v2 was current AT the horizon, so
    // TIMESTAMP AS OF anywhere inside the window must keep resolving —
    // v2 is retained, only v1 (superseded before the cutoff) drops.
    // Simulate by rewriting v1/v2's stamps into the far past.
    val now = System.currentTimeMillis()
    def restamp(v: Long, ts: Long): Unit = {
      val p = java.nio.file.Paths.get(root, ".versions", "t", s"v$v.manifest")
      val txt = Files.readString(p).linesIterator.map {
        case l if l.startsWith("meta.ts=") => s"meta.ts=$ts"
        case l => l
      }.mkString("\n") + "\n"
      Files.writeString(p, txt)
    }
    restamp(1, now - 10 * 3600 * 1000L)
    restamp(2, now - 9 * 3600 * 1000L)
    cat.sql("VACUUM t RETAIN 5 HOURS")
    assert(cat.versions("t") === Seq(2L, 3L),
      "the version current at the horizon is retained")
    // the promise holds: AS OF inside the window still resolves
    assert(cat.versionAsOf("t", now - 4 * 3600 * 1000L) === 2L)
  }

  test("a CTE name shadowing a catalog table keeps CTE precedence") {
    val cat = seeded()
    assert(cat.sql(
      "WITH t AS (SELECT 1 AS one) SELECT count(*) AS n FROM t")
      .as[Long].head() === 1L,
      "the WITH alias must win over the catalog table")
    // and the catalog table is still reachable when no CTE shadows it
    assert(cat.sql("SELECT count(*) AS n FROM t").as[Long].head() === 3L)
  }

  test("DELETE FROM text: row-level delete as one versioned commit") {
    val cat = seeded() // ids 1,3,4 live; v3 current
    val out = cat.sql("DELETE FROM t WHERE m >= 40.0").collect().head
    assert((out.getString(0), out.getLong(1), out.getLong(2)) === ("t", 4L, 1L))
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(1L, 3L))
    assert(cat.readVersion("t", 3).count() === 3, "pre-delete version readable")
    assert(cat.history("t").orderBy(col("version").desc)
      .select("operation").as[String].head() === "delete")
  }

  test("unknown names fall through to session temp views; misuse is loud") {
    val cat = seeded()
    Seq((1L, "x")).toDF("id", "tag").createOrReplaceTempView("staged")
    assert(cat.sql(
      "SELECT s.tag FROM t JOIN staged s ON t.id = s.id")
      .as[String].collect().toSeq === Seq("x"))
    // AS OF over a non-catalog name
    val e = intercept[Exception](
      cat.sql("SELECT * FROM staged VERSION AS OF 1").collect())
    assert(e.getMessage.contains("versioned"), e.getMessage)
    // AS OF a version that never existed / was vacuumed
    val e2 = intercept[IllegalArgumentException](
      cat.sql("SELECT * FROM t VERSION AS OF 99").collect())
    assert(e2.getMessage.contains("not retained"), e2.getMessage)
  }

  test("ALTER TABLE text: RENAME COLUMN and ALTER COLUMN TYPE route to the verbs") {
    val cat = seeded() // ids 1,3,4 live at v3; columns id, p, m
    val before = cat.manifestFiles("t", cat.currentVersion("t"))
    val out = cat.sql("ALTER TABLE t RENAME COLUMN m TO metric").collect().head
    assert((out.getString(1), out.getString(2)) === ("m", "metric"))
    cat.sql("ALTER TABLE t ALTER COLUMN metric TYPE DOUBLE") // already double: no-op
    assert(cat.manifestFiles("t", cat.currentVersion("t")) === before,
      "text ALTERs are metadata-only")
    assert(cat.sql("SELECT id, metric FROM t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)))
    // the renamed column works in text UPDATE/DELETE predicates too
    cat.sql("UPDATE t SET metric = metric * 2 WHERE id = 3")
    assert(cat.read("t").filter(col("id") === 3L).select("metric")
      .as[Double].head() === 60.0)
  }

  test("ALTER TABLE text: ADD and DROP COLUMN route to the metadata-only verbs") {
    val cat = seeded() // ids 1,3,4 live at v3; columns id, p, m
    val before = cat.manifestFiles("t", cat.currentVersion("t"))
    // bare and parenthesized multi-column ADD forms, paren-typed types
    val out = cat.sql("ALTER TABLE t ADD COLUMN tag STRING").collect().head
    assert((out.getString(1), out.getString(2)) === ("tag", "string"))
    cat.sql("ALTER TABLE t ADD COLUMNS (price decimal(10,2), note string)")
    assert(cat.read("t").columns.toSet ===
      Set("id", "p", "m", "tag", "price", "note"))
    assert(cat.read("t").select("tag").as[Option[String]]
      .collect().forall(_.isEmpty))
    // DROP narrows the recorded schema; both text forms
    cat.sql("ALTER TABLE t DROP COLUMN note")
    cat.sql("ALTER TABLE t DROP COLUMNS (tag, price)")
    assert(cat.read("t").columns.toSet === Set("id", "p", "m"))
    assert(cat.manifestFiles("t", cat.currentVersion("t")) === before,
      "text ADD/DROP COLUMN are metadata-only")
    // complex nested types with top-level commas inside angle brackets
    cat.sql("ALTER TABLE t ADD COLUMNS (tags MAP<STRING, INT>, nest ARRAY<STRUCT<a INT, b INT>>)")
    assert(cat.read("t").schema("tags").dataType.simpleString === "map<string,int>")
    cat.sql("ALTER TABLE t DROP COLUMNS (tags, nest)")
    // a bad entry fails the WHOLE statement before any commit lands
    val vBefore = cat.currentVersion("t")
    intercept[IllegalArgumentException](
      cat.sql("ALTER TABLE t ADD COLUMNS (fresh INT, id INT)")) // id exists
    assert(cat.currentVersion("t") === vBefore &&
      !cat.read("t").columns.contains("fresh"),
      "a partially-valid ADD COLUMNS must apply nothing")
    // re-adding a dropped name NO file ever physically held is fine —
    // the footer check proves it clean and clears the marker
    cat.sql("ALTER TABLE t ADD COLUMN tag STRING")
    // ...but the resurrection guard reaches the text surface too:
    // re-adding a name whose old bytes live in carried files refuses
    cat.sql("ALTER TABLE t DROP COLUMN m") // m's bytes are in every file
    val e = intercept[IllegalArgumentException](
      cat.sql("ALTER TABLE t ADD COLUMN m DOUBLE"))
    assert(e.getMessage.contains("compact") || e.getMessage.contains("OPTIMIZE"),
      e.getMessage)
  }

  test("statement table names resolve case-insensitively, like Spark identifiers") {
    val cat = seeded() // table stored as 't'; ids 1,3,4 live
    assert(cat.sql("SELECT id FROM T ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 4L))
    assert(cat.sql("SELECT count(*) FROM T VERSION AS OF 1")
      .as[Long].head() === 3L)
    // qualified refs under the statement's own spelling still resolve
    assert(cat.sql("SELECT T.id FROM T WHERE T.id = 3").as[Long].head() === 3L)
    cat.sql("UPDATE T SET m = 0.0 WHERE id = 1")
    assert(cat.read("t").filter(col("id") === 1L).select("m")
      .as[Double].head() === 0.0)
    assert(cat.sql("DESCRIBE HISTORY T").count() >= 4)
    val (_, _) = (cat.sql("DELETE FROM T WHERE id = 4"), ())
    assert(cat.read("t").select("id").as[Long].collect().sorted ===
      Array(1L, 3L))
  }

  test("text UPDATE/DELETE retry lost commit races like the catalog plugin") {
    // both SQL front doors must share one concurrency contract: the
    // registered catalog's DELETE retries through withRetry, so the
    // text path must too — an interleaved writer and a text UPDATE
    // both land, version chain gapless, neither effect lost
    val root = Files.createTempDirectory("graft-sqlr").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "m"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    def run(body: ParquetCatalog => Unit): Thread = new Thread(() => {
      try {
        val c = new ParquetCatalog(spark, root)
        barrier.await()
        body(c)
      } catch { case t: Throwable => errs.add(t); () }
    })
    val a = run(c => c.withRetry(5)(c.appendVersioned("t",
      Seq((3L, 30.0)).toDF("id", "m"))))
    val b = run(_.sql("UPDATE t SET m = m + 100 WHERE id = 1"))
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(errs.isEmpty, s"both doors must absorb the race: $errs")
    val out = cat.read("t").select("id", "m").as[(Long, Double)]
      .collect().sortBy(_._1)
    assert(out === Array((1L, 110.0), (2L, 20.0), (3L, 30.0)),
      "append and text UPDATE both landed exactly once")
    val vs = cat.versions("t")
    assert(vs === (vs.head to vs.last), s"gapless chain expected: $vs")
  }
}
