package graft.pipeline

import graft.storage.ParquetCatalog
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Personal-portfolio orchestration (SURVEY.md §3.2; reference
  * `notebooks/personal_repos_bronze_to_silver.py` +
  * `personal_repos_silver_to_gold.py`): ingestion → activity metrics →
  * the three personal gold tables. Unlike the market [[Runner]] (whose
  * gold layer is a full overwrite each run), the personal gold tables
  * are MERGE-maintained (`personal_repos_silver_to_gold.py:316-334,
  * 373-391,430-448`): each run upserts on the reference's merge keys —
  *   - portfolio overview  ON measurement_date,
  *   - repo health         ON (repository_id, measurement_date),
  *   - velocity trends     ON (repository_id, week_start) —
  * so history accumulates across runs and a re-run of the same
  * processing date is idempotent.
  *
  * A run writes its six tables one after the other, in the order of
  * `run`'s body. There is no atomicity across tables: a step that fails
  * leaves the tables written before it and writes none after it.
  *
  * Scale notes: every upsert is one full-outer shuffle on its key;
  * activity metrics aggregate all periods in a single pass
  * ([[Activity.activityMetrics]]); the dashboard's activity side is the
  * already-aggregated 30d slice (one row per repo), broadcast into the
  * silver join.
  */
final class PersonalRunner(spark: SparkSession, catalog: ParquetCatalog,
    classifier: Classifier = RuleClassifier) {

  /** One personal pipeline run: a batch of API-shaped repo JSON plus raw
    * activity rows (repository_id, activity_type, activity_id, ts,
    * additions, deletions). Returns the table names written. */
  def run(json: Dataset[String], activity: DataFrame,
      processingDate: String): Seq[String] = {
    // ingest -> bronze upsert (K2, personal_repos_ingestion.py:244-265),
    // bronze -> silver with smart-skip + smart merge (the market
    // family's step — personal_repos_bronze_to_silver.py mirrors it)
    Runner.bronzeToSilver(spark, catalog, classifier, json, processingDate,
      "personal_bronze", "personal_silver")

    // activity silver: all periods in one pass, MERGEd on the composite
    // key (K2 — personal_repos_bronze_to_silver.py:574-634)
    val metrics = Activity.activityMetrics(activity,
      lit(processingDate).cast("date"))
    catalog.upsert("personal_activity_metrics", metrics,
      Seq("repository_id", "measurement_period"))

    // silver -> the three MERGE'd personal gold tables
    val silver = catalog.read("personal_silver")
    val act30 = catalog.read("personal_activity_metrics")
      .filter(col("measurement_period") === "30d")
      .select(col("repository_id"),
        col("commit_count").as("commits_30d"),
        col("issue_count").as("issues_30d"))

    val dash = Gold.healthDashboard(silver, act30)
      .withColumn("measurement_date", lit(processingDate))
    catalog.upsert("gold_repo_health", dash,
      Seq("repository_id", "measurement_date"))

    val overview = Gold.portfolioOverview(silver, processingDate)
    catalog.upsert("gold_portfolio_overview", overview, Seq("measurement_date"))

    val velocity = Activity.velocityTrend(activity)
      .withColumn("partition_date", lit(processingDate))
    catalog.upsert("gold_velocity_trends", velocity,
      Seq("repository_id", "week_start"))

    Seq("personal_bronze", "personal_silver", "personal_activity_metrics",
      "gold_repo_health", "gold_portfolio_overview", "gold_velocity_trends")
  }
}
