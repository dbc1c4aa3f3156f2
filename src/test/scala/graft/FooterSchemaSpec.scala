package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.storage.ParquetCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Table and catalog reads take their schema from one footer on the
  * driver ([[graft.storage.FooterSchema]]): opening a frame, or
  * analysing a query over the SQL door, starts no Spark job, and the
  * schema is exactly the one Spark's own inference gives the same read
  * (names, types, nullability and field metadata; `StructType`
  * equality compares all four). Each reference below is the schemaless
  * read the table used before, run outside the counted block. */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val graftFormat = classOf[graft.spark.GraftParquetFileFormat].getName

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    SqlBridge.drainListeners(spark)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      SqlBridge.drainListeners(spark)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Builds `frame` with zero jobs; returns its schema. */
  private def schemaWithoutJobs(what: String)(frame: => DataFrame): StructType = {
    val (df, jobs) = jobsDuring(frame)
    assert(jobs === 0, s"$what started $jobs job(s)")
    df.schema
  }

  /** A catalog registered over `root` for the SQL-door checks. */
  private def sqlDoor(root: String): String =
    graft.spark.GraftCatalog.register(spark, s"fs${System.nanoTime() % 100000}", root)

  /** The SQL door analyses `SELECT * FROM c.t` with zero jobs; returns
    * the analysed schema. */
  private def sqlSchemaWithoutJobs(c: String, t: String): StructType =
    schemaWithoutJobs(s"analysing SELECT * FROM $c.$t")(
      spark.sql(s"SELECT * FROM $c.$t"))

  /** A versioned table's data files and its partition base dir. */
  private def versionedFiles(cat: ParquetCatalog, root: String, t: String) = {
    val v = cat.currentVersion(t)
    val base = Paths.get(root, ".versions", t)
    (cat.manifestFiles(t, v).map(f => base.resolve(f).toString),
      base.resolve("data").toString)
  }

  private def inferredVersioned(cat: ParquetCatalog, root: String, t: String): StructType = {
    val (files, base) = versionedFiles(cat, root, t)
    spark.read.format(graftFormat).option("basePath", base).load(files: _*).schema
  }

  private val sf0001 = "/root/testdata/sf0.001"

  test("every sf0.001 table opens without a job, under the inferred schema") {
    val names = Files.list(Paths.get(sf0001)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => Paths.get(p).getFileName.toString.stripSuffix(".parquet")).sorted
    assert(names.length === 10)
    for (name <- names) {
      val path = s"$sf0001/$name.parquet"
      val expected = spark.read.parquet(path).schema
      assert(schemaWithoutJobs(s"Tables.table($name)")(
        Tables.table(spark, sf0001, name)) === expected, name)
    }
  }

  test("events opens without a job under both ts encodings") {
    for (encode <- Seq("nanos", "ntz")) {
      val dir = EventsSchemaSpec.writeFixture(spark, encode)
      // Tables.events branches on the raw schema alone, so an equal raw
      // schema is an equal events frame
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet").schema
      assert(schemaWithoutJobs(s"Tables.table(events, $encode)")(
        Tables.table(spark, dir, "events")) === raw, encode)
      val ev = schemaWithoutJobs(s"Tables.events($encode)")(Tables.events(spark, dir))
      assert(ev("ts").dataType === TimestampType, encode)
      assert(ev.fieldNames.toSeq === raw.fieldNames.toSeq, encode)
    }
  }

  test("a partitioned plain table shaped like bronze_repos: catalog read and SQL door") {
    val root = Files.createTempDirectory("graft-fs-bronze").toString
    val cat = new ParquetCatalog(spark, root)
    def batch(date: String, ids: Seq[Long]) = graft.sources.JsonIngest.fromJson(spark,
      ids.map(id => s"""{"id": $id, "name": "r$id", "full_name": "o/r$id",
        "owner": {"login": "o", "type": "User"}, "stargazers_count": ${id * 10},
        "topics": ["t$id"], "created_at": "2024-01-0${id}T00:00:00Z"}""")
        .toDS(), date)
    // the plain directory an older build's bronze MERGE left, two batches
    val dir = Paths.get(root, "bronze_repos").toString
    batch("2024-03-01", Seq(1L, 2L)).write.partitionBy("partition_date").parquet(dir)
    batch("2024-03-02", Seq(3L)).write.mode("append")
      .partitionBy("partition_date").parquet(dir)
    val expected = spark.read.format(graftFormat).load(dir).schema
    assert(expected("partition_date").dataType.typeName === "date",
      "the partition column is typed from the paths")
    val door = ParquetTable("bronze_repos", spark, CaseInsensitiveStringMap.empty(),
      Seq(dir), None, classOf[ParquetFileFormat]).schema
    // the first read migrates the dir to version 1, still without a job
    assert(schemaWithoutJobs("read(bronze_repos)")(cat.read("bronze_repos")) === expected)
    assert(cat.history("bronze_repos").select("operation").as[String]
      .collect().toSeq === Seq("migrate"))
    assert(sqlSchemaWithoutJobs(sqlDoor(root), "bronze_repos") === door)
  }

  test("a versioned table without a recorded schema: read, readVersion, SQL door") {
    val root = Files.createTempDirectory("graft-fs-ver").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t",
      Seq((1L, "a", 1.5, Option("x")), (2L, "b", 2.5, None))
        .toDF("id", "p", "m", "s"), Seq("p"))
    cat.appendVersioned("t", Seq((3L, "a", 3.5, Option("z")))
      .toDF("id", "p", "m", "s"), Seq("p"))
    val expected = inferredVersioned(cat, root, "t")
    assert(schemaWithoutJobs("read(t)")(cat.read("t")) === expected)
    assert(schemaWithoutJobs("readVersion(t, 1)")(cat.readVersion("t", 1)) ===
      expected)
    assert(sqlSchemaWithoutJobs(sqlDoor(root), "t") === expected)
    assert(cat.read("t").count() === 3)
  }

  test("a recorded schema still wins over the footer (metadata-only evolution)") {
    val root = Files.createTempDirectory("graft-fs-evo").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq((1L, "a", 1.5)).toDF("id", "p", "m"), Seq("p"))
    cat.appendVersioned("t", Seq((2L, "a", 2.5, "new")).toDF("id", "p", "m", "extra"),
      Seq("p"), evolveSchema = true)
    val ddl = cat.manifest("t", cat.currentVersion("t")).meta("schema")
    val (files, base) = versionedFiles(cat, root, "t")
    val expected = spark.read.schema(StructType.fromDDL(ddl)).format(graftFormat)
      .option("basePath", base).load(files: _*).schema
    // the oldest file's footer lacks `extra`: the footer would not do
    assert(inferredVersioned(cat, root, "t") !== expected)
    assert(schemaWithoutJobs("read(t)")(cat.read("t")) === expected)
    assert(sqlSchemaWithoutJobs(sqlDoor(root), "t") === expected)
    assert(cat.read("t").orderBy("id").select("extra").as[Option[String]]
      .collect().toSeq === Seq(None, Some("new")))
  }

  test("a column-mapped table reads by field id under its recorded schema") {
    val root = Files.createTempDirectory("graft-fs-map").toString
    val cat = new ParquetCatalog(spark, root)
    cat.overwriteVersioned("t", Seq((1L, "a", 1.5), (2L, "b", 2.5))
      .toDF("id", "p", "m"), Seq("p"))
    cat.renameColumn("t", "m", "metric")
    val read = schemaWithoutJobs("read(t)")(cat.read("t"))
    assert(read.fieldNames.toSet === Set("id", "p", "metric"))
    assert(read.filter(_.name != "p")
      .forall(_.metadata.contains("parquet.field.id")), read)
    assert(sqlSchemaWithoutJobs(sqlDoor(root), "t") === read)
    assert(cat.read("t").orderBy("id").select("metric").as[Double]
      .collect().toSeq === Seq(1.5, 2.5))
  }

  test("no data file: the read falls through to Spark's own error") {
    val empty = Files.createTempDirectory("graft-fs-none").toString
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      graft.storage.FooterSchema.parquet(spark, empty))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(empty))
    assert(ours.getCondition === theirs.getCondition)
    assert(graft.storage.FooterSchema.resolve(spark, Seq(s"$empty/missing")) === None)
  }
}
