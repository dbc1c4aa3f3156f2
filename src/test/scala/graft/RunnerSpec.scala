package graft

import graft.operators.Rank
import graft.pipeline.{Gold, PersonalRunner, Quality, Runner}
import graft.storage.ParquetCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** End-to-end medallion runs through the catalog (twice — incremental
  * semantics), plus the quality/drift/rank machinery. */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def repoJson(id: Long, name: String, topics: Seq[String],
      lang: String, stars: Long, cat: String = ""): String = {
    val topicsJson = topics.map(t => s""""$t"""").mkString("[", ",", "]")
    s"""{"id":$id,"name":"$name","full_name":"org/$name","description":"desc $name","owner":{"login":"org"},"license":{"name":"MIT"},"stargazers_count":$stars,"forks_count":1,"watchers_count":$stars,"size":10,"language":"$lang","topics":$topicsJson,"created_at":"2022-01-01T00:00:00Z","updated_at":"2024-06-01T00:00:00Z","pushed_at":"2024-06-01T00:00:00Z","has_wiki":true,"archived":false}"""
  }

  test("two incremental runs: upserts accumulate, classifications persist") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("runner").toString)
    val runner = new Runner(spark, cat)

    val day1 = Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 100),
      repoJson(2, "webby", Seq("react"), "TypeScript", 50)).toDS()
    val written = runner.run(day1, "2024-06-10")
    assert(written.contains("gold_technology_metrics"))
    assert(cat.read("silver_repos").count() === 2)

    // day 2: repo 1 gains stars, repo 3 appears with no matching topics
    val day2 = Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 900),
      repoJson(3, "mystery", Seq(), "COBOL", 5)).toDS()
    val written2 = runner.run(day2, "2024-06-11")

    val silver = cat.read("silver_repos")
    assert(silver.count() === 3, "bronze upsert accumulated all repos")
    val r1 = silver.filter($"repository_id" === 1).head()
    assert(r1.getAs[Long]("stargazers_count") === 900L, "metrics refreshed")
    assert(r1.getAs[String]("technology_category") === "Data Engineering",
      "good classification persisted through the rerun")
    assert(cat.read("gold_technology_metrics").count() >= 2)

    // the gold writes run together; each table is still exactly its
    // frame over the committed silver, and the names keep their order
    val expected = Gold.allTables(silver)
    assert(written2 === Seq("bronze_repos", "silver_repos") ++
      expected.keys.toSeq.map(n => s"gold_$n"))
    expected.foreach { case (name, df) =>
      val got = cat.read(s"gold_$name")
      // parquet keeps names and types; it reads every column nullable
      assert(got.schema.map(f => f.name -> f.dataType) ===
        df.schema.map(f => f.name -> f.dataType), name)
      assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty, name)
    }
  }

  test("Runner batches keep superseded files until vacuum drops their version") {
    val root = Files.createTempDirectory("runner-hist").toString
    val cat = new ParquetCatalog(spark, root)
    val runner = new Runner(spark, cat)
    runner.run(Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 100),
      repoJson(2, "webby", Seq("react"), "TypeScript", 50)).toDS(), "2024-06-10")
    val first = cat.manifestFiles("silver_repos", 1).toSet
    runner.run(Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 900),
      repoJson(3, "mystery", Seq(), "COBOL", 5)).toDS(), "2024-06-11")
    assert(cat.history("silver_repos").count() === 2)
    // silver is rewritten each batch: every first-batch file is superseded
    val vd = java.nio.file.Paths.get(root, ".versions", "silver_repos")
    val superseded = first -- cat.manifestFiles("silver_repos", 2)
    assert(superseded.nonEmpty && superseded.forall(f => Files.exists(vd.resolve(f))),
      "superseded files stay until vacuum")
    def rows() = cat.read("silver_repos").collect().map(_.toString).sorted.toSeq
    val before = rows()
    cat.vacuum("silver_repos", keep = 1, minAgeMs = 0L)
    assert(cat.versions("silver_repos") === Seq(2L))
    assert(superseded.forall(f => !Files.exists(vd.resolve(f))),
      "vacuum(keep = 1) removes the first batch's files")
    assert(rows() === before)
  }

  test("every job of a Runner batch carries the caller's local properties") {
    val tags = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("graft.spec.batch"))))
    }
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("runner-props").toString)
    val day1 = Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 100),
      repoJson(2, "webby", Seq("react"), "TypeScript", 50)).toDS()
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.batch", "day1")
    SqlBridge.drainListeners(spark)
    sc.addSparkListener(listener)
    try {
      new Runner(spark, cat).run(day1, "2024-06-10")
      SqlBridge.drainListeners(spark)
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty("graft.spec.batch", null)
    }
    val seen = tags.asScala.toSeq
    // the seven gold overwrites alone run at least one job each
    assert(seen.size >= 7, s"${seen.size} jobs")
    assert(seen.forall(_.contains("day1")), seen)
  }

  test("personal runner: MERGE'd gold accumulates by date and re-runs are idempotent") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("personal").toString)
    val runner = new PersonalRunner(spark, cat)
    val activity = Seq(
      (1L, "commit", "c1", Timestamp.valueOf("2024-06-05 10:00:00"), 10L, 2L),
      (1L, "issue", "i1", Timestamp.valueOf("2024-06-01 09:00:00"), 0L, 0L),
      (2L, "commit", "c2", Timestamp.valueOf("2024-04-01 10:00:00"), 5L, 1L))
      .toDF("repository_id", "activity_type", "activity_id", "ts",
        "additions", "deletions")
    val repos = Seq(
      repoJson(1, "sparky", Seq("spark"), "Scala", 100),
      repoJson(2, "webby", Seq("react"), "TypeScript", 50)).toDS()

    val written = runner.run(repos, activity, "2024-06-10")
    assert(written.contains("gold_portfolio_overview"))
    assert(cat.read("gold_portfolio_overview").count() === 1)
    assert(cat.read("gold_repo_health").count() === 2)
    val h1 = cat.read("gold_repo_health")
      .filter($"repository_id" === 1).head()
    assert(h1.getAs[Long]("commits_30d") === 1L, "30d slice joined in")
    assert(h1.getAs[String]("activity_status") !== null)

    // next-day run: overview/health history accumulates one row per date
    runner.run(repos, activity, "2024-06-11")
    assert(cat.read("gold_portfolio_overview").count() === 2)
    assert(cat.read("gold_repo_health").count() === 4)
    val velocityAfter2 = cat.read("gold_velocity_trends").count()

    // same-day re-run: merge keys match, nothing duplicates
    runner.run(repos, activity, "2024-06-11")
    assert(cat.read("gold_portfolio_overview").count() === 2)
    assert(cat.read("gold_repo_health").count() === 4)
    assert(cat.read("gold_velocity_trends").count() === velocityAfter2)
  }

  test("health dashboard joins activity with defaults and actions") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("runner2").toString)
    new Runner(spark, cat).run(
      Seq(repoJson(1, "sparky", Seq("spark"), "Scala", 100)).toDS(),
      "2024-06-10")
    val activity = Seq((1L, 12L, 3L))
      .toDF("repository_id", "commits_30d", "issues_30d")
    val dash = Gold.healthDashboard(cat.read("silver_repos"), activity)
    val r = dash.head()
    assert(r.getAs[String]("health_grade") !== null)
    assert(r.getAs[Long]("commits_30d") === 12L)
  }

  test("silver validation flags violations as arrays") {
    val bad = Seq((null.asInstanceOf[java.lang.Long], "", 150, 40, -5L, 1L, 0.5))
      .toDF("repository_id", "name", "quality_score", "activity_score",
        "stargazers_count", "forks_count", "classification_confidence")
    val v = Quality.validateSilver(bad).head()
    val flags = v.getAs[scala.collection.Seq[String]]("violations")
    assert(flags.contains("missing_repository_id"))
    assert(flags.contains("missing_name"))
    assert(flags.contains("quality_score_out_of_range"))
    assert(flags.contains("negative_stars"))
  }

  test("bronze and gold validation apply only the rules their columns support") {
    val bronze = Seq(
      (0L, null.asInstanceOf[String], "org/x", -3L),
      (5L, "ok", "org/ok", 10L))
      .toDF("repository_id", "name", "full_name", "stargazers_count")
    val bv = Quality.validateBronze(bronze).collect()
    assert(bv.length === 1)
    val bFlags = bv.head.getAs[scala.collection.Seq[String]]("violations")
    assert(bFlags.contains("missing_name"))
    assert(bFlags.contains("negative_stars"))
    assert(bFlags.contains("non_positive_repository_id"))
    // created_at/ingestion_timestamp rules skipped: columns absent

    val gold = Seq((1L, 150.0, 0), (2L, 50.0, 3))
      .toDF("repository_id", "momentum_score", "category_rank")
    val gv = Quality.validateGold(gold).collect()
    assert(gv.length === 1)
    val gFlags = gv.head.getAs[scala.collection.Seq[String]]("violations")
    assert(gFlags.contains("momentum_score_out_of_range"))
    assert(gFlags.contains("non_positive_category_rank"))
  }

  test("per-repo drift records carry severity and review flags") {
    val prev = Seq((1L, "AI/ML", "nlp", 0.95), (2L, "DevOps", "ci", 0.5),
      (3L, "Web Development", "frontend", 0.9))
      .toDF("repository_id", "technology_category", "technology_subcategory",
        "classification_confidence")
    val cur = Seq((1L, "Systems", "kernel", 0.2), (2L, "DevOps", "ci", 0.5),
      (3L, "Data Engineering", "etl", 0.85))
      .toDF("repository_id", "technology_category", "technology_subcategory",
        "classification_confidence")
    val recs = Quality.driftRecords(prev, cur)
      .collect().map(r => r.getAs[Long]("repository_id") -> r).toMap
    assert(recs.size === 2, "unchanged categories emit no record")
    assert(recs(1L).getAs[String]("drift_severity") === "high") // drop 0.75
    assert(recs(1L).getAs[Boolean]("requires_review"))
    assert(recs(3L).getAs[String]("drift_severity") === "low")  // drop 0.05
    assert(!recs(3L).getAs[Boolean]("requires_review"))
  }

  test("classification drift detects reclassification with severity") {
    val prev = Seq((1L, "AI/ML"), (2L, "DevOps"), (3L, "Web Development"))
      .toDF("repository_id", "technology_category")
    val cur = Seq((1L, "AI/ML"), (2L, "Systems"), (4L, "DevOps"))
      .toDF("repository_id", "technology_category")
    val drift = Quality.classificationDrift(prev, cur)
    val byStatus = drift.groupBy("status").agg(sum("n_repos").as("n"))
      .as[(String, Long)].collect().toMap
    assert(byStatus("reclassified") === 1L)
    assert(byStatus("added") === 1L)
    assert(byStatus("removed") === 1L)
    assert(byStatus("stable") === 1L)
    val sev = Quality.driftSeverity(drift).head()
    assert(sev.getAs[String]("severity") === "critical") // 1/4 = 25%
  }

  test("globalCumsum matches the single-partition window running total") {
    val df = Tables.customer(spark, "/root/testdata/sf0.001")
      .select($"c_custkey", $"c_acctbal".cast("long").as("v"))
    val viaWindow = df.withColumn("cum",
      sum($"v").over(org.apache.spark.sql.expressions.Window
        .orderBy("c_custkey").rowsBetween(Long.MinValue, 0)))
      .select("c_custkey", "cum").as[(Long, Long)].collect().toMap
    val viaScale = graft.operators.Prefix
      .globalCumsum(df, Seq("c_custkey"), "v", "cum")
      .select("c_custkey", "cum").as[(Long, Long)].collect().toMap
    assert(viaScale === viaWindow)
  }

  test("globalCumsum handles negative values and nulls in every partition") {
    // every partition's running cum dips negative at its end, so a
    // max("__cum")-based partition offset would be wrong everywhere;
    // nulls must count as 0, not NPE inside mapPartitions
    val rows = (1 to 400).map { i =>
      val v: java.lang.Long =
        if (i % 13 == 0) null
        else if (i % 2 == 0) java.lang.Long.valueOf(-3L * i)
        else java.lang.Long.valueOf(i.toLong)
      (i.toLong, v)
    }
    val df = rows.toDF("k", "v").repartition(8)
    val expect = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (k, v)) =>
        (k, acc + Option(v).map(_.longValue).getOrElse(0L))
      }.tail.toMap
    val got = graft.operators.Prefix
      .globalCumsum(df, Seq("k"), "v", "cum")
      .select("k", "cum").as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  test("globalRank matches the single-partition window rank") {
    val df = Tables.customer(spark, "/root/testdata/sf0.001")
      .select("c_custkey", "c_acctbal")
    val viaWindow = df.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy($"c_acctbal".desc, $"c_custkey")))
      .select("c_custkey", "rank")
      .as[(Long, Long)].collect().toMap
    // globalRank sorts ascending on given order cols; emulate desc via negation
    val viaScale = Rank.globalRank(
      df.withColumn("neg_bal", -$"c_acctbal"), Seq("neg_bal", "c_custkey"))
      .select("c_custkey", "rank").as[(Long, Long)].collect().toMap
    assert(viaScale === viaWindow)
  }
}
