package graft

import graft.pipeline.Activity
import graft.storage.ParquetCatalog
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class ActivitySpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int) =
    Timestamp.valueOf(f"2024-06-$day%02d 12:00:00")

  private def activity = Seq(
    (1L, "commit", ts(14), 100.0, 40.0), // 1 day before processing date
    (1L, "commit", ts(1), 10.0, 5.0),    // 14 days before
    (1L, "issue", ts(14), 0.0, 0.0),
    (2L, "commit", ts(13), 50.0, 20.0)
  ).toDF("repository_id", "activity_type", "ts", "additions", "deletions")

  test("period explode yields one row per repo x period with window cutoffs") {
    val out = Activity.activityMetrics(activity,
      lit("2024-06-15").cast("date"), periods = Seq(7, 30))
      .orderBy("repository_id", "measurement_period").collect()
    val m = out.map(r => (r.getAs[Long]("repository_id"),
      r.getAs[String]("measurement_period")) -> r).toMap
    assert(m((1L, "7d")).getAs[Long]("commit_count") === 1L,
      "day-1 commit outside the 7d window")
    assert(m((1L, "30d")).getAs[Long]("commit_count") === 2L)
    assert(m((1L, "30d")).getAs[Double]("total_additions") === 110.0)
    assert(m((2L, "7d")).getAs[Long]("commit_count") === 1L)
  }

  test("metrics merge on the composite key across runs") {
    val cat = new ParquetCatalog(spark, Files.createTempDirectory("act").toString)
    val run1 = Activity.activityMetrics(activity, lit("2024-06-15").cast("date"))
    cat.upsertVersioned("activity_metrics", run1,
      Seq("repository_id", "measurement_period"))
    // next day: repo 1 gains a commit; only its rows should change
    val moreActivity = activity.unionByName(
      Seq((1L, "commit", ts(15), 7.0, 2.0))
        .toDF("repository_id", "activity_type", "ts", "additions", "deletions"))
    val run2 = Activity.activityMetrics(moreActivity, lit("2024-06-16").cast("date"))
    cat.upsertVersioned("activity_metrics", run2,
      Seq("repository_id", "measurement_period"))
    val back = cat.read("activity_metrics")
    assert(back.count() === 6, "3 periods x 2 repos")
    val r7 = back.filter($"repository_id" === 1 && $"measurement_period" === "7d").head()
    assert(r7.getAs[Long]("commit_count") === 2L, "refreshed with the new commit")
  }

  test("weekly velocity trend aggregates net lines") {
    val out = Activity.velocityTrend(activity)
      .orderBy("repository_id", "week_start").collect()
    val repo1weeks = out.filter(_.getAs[Long]("repository_id") == 1L)
    assert(repo1weeks.map(_.getAs[Double]("net_lines")).sum === 65.0)
    val repo2weeks = out.filter(_.getAs[Long]("repository_id") == 2L)
    assert(repo2weeks.map(_.getAs[Double]("net_lines")).sum === 30.0)
    assert(repo2weeks.map(_.getAs[Long]("commits")).sum === 1L)
  }
}
