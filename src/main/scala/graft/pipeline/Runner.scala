package graft.pipeline

import graft.sources.JsonIngest
import graft.storage.ParquetCatalog
import org.apache.spark.sql.{Dataset, SparkSession}

/** Full medallion orchestration (SURVEY.md §3.1 topology): the
  * reference's Data-Factory pipeline chain — ingest → bronze MERGE →
  * bronze→silver (smart classify + smart merge) → silver→gold (seven
  * table overwrite) — as one idempotent job over a [[ParquetCatalog]].
  * Scheduling stays external (the reference's 6-hour trigger is a cron
  * concern, not engine semantics); each `run` is one micro-batch.
  *
  * Bronze and silver run one after the other, each reading the one
  * before; the seven gold overwrites read only silver and run together
  * ([[Concurrent.all]]). There is no atomicity across tables: a failed
  * bronze or silver step writes no gold; a failed gold write is thrown
  * once the other six have ended, and each of them that did not fail
  * has written its table.
  *
  * Every write commits a new version of its table, so a batch keeps
  * the files it superseded until [[ParquetCatalog.vacuum]] drops the
  * versions that list them, as Delta does: `history(table)` shows one
  * version per batch, and the caller schedules retention.
  */
final class Runner(spark: SparkSession, catalog: ParquetCatalog,
    classifier: Classifier = RuleClassifier) {

  /** One pipeline run for a batch of API-shaped JSON. Returns the table
    * names written. */
  def run(json: Dataset[String], processingDate: String): Seq[String] = {
    // ingest -> bronze upsert (K2, github_data_ingestion.py:349-383),
    // bronze -> silver with smart-skip + smart merge (K3)
    Runner.bronzeToSilver(spark, catalog, classifier, json, processingDate,
      "bronze_repos", "silver_repos")

    // silver -> gold: seven-table overwrite (K1), the writes together
    val silver = catalog.read("silver_repos")
    val written = Concurrent.all(Gold.allTables(silver).toSeq.map {
      case (name, df) => () => {
        val tableName = s"gold_$name"
        catalog.overwriteVersioned(tableName, df)
        tableName
      }
    })
    Seq("bronze_repos", "silver_repos") ++ written
  }
}

object Runner {

  /** Ingest a JSON batch, upsert it into `bronzeTable` on
    * `repository_id`, then rebuild `silverTable` from bronze: smart
    * classification reuses the existing silver rows, and the fresh rows
    * are smart-merged into them. Both pipeline families run this step;
    * they differ only in table names. */
  private[pipeline] def bronzeToSilver(spark: SparkSession,
      catalog: ParquetCatalog, classifier: Classifier, json: Dataset[String],
      processingDate: String, bronzeTable: String, silverTable: String): Unit = {
    catalog.upsertVersioned(bronzeTable,
      JsonIngest.fromJson(spark, json, processingDate),
      Seq("repository_id"), partitionBy = Seq("partition_date"))
    val bronze = catalog.read(bronzeTable)
    val existingSilver =
      if (catalog.exists(silverTable)) Some(catalog.read(silverTable)) else None
    val fresh = Silver.transform(bronze, processingDate, existingSilver, classifier)
    catalog.overwriteVersioned(silverTable,
      existingSilver.fold(fresh)(Silver.mergeIntoSilver(_, fresh)),
      Seq("partition_date", "technology_category"))
  }
}
