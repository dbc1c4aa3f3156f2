package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** Optimization-round helper: write `.explain("formatted")` for the
  * named queries to text files (plans/<tag>/<name>_<tag>.txt). Each file
  * holds the returned frame's plan followed by the final plan of EVERY
  * SQL execution the query ran while building that frame — queries that
  * collect internally (the SQL-door s12–s26/k33 family returns a local
  * summary frame) show their real scans only there. A query's first run
  * may also record the executions that build its scratch tables; run the
  * dump twice to compare steady-state plans. Not part of the bench
  * contract; run ad hoc:
  *
  *   sbt "runMain graft.PlanDump before plans/r20 gr1_pagerank,j11_fuzzy_block_join"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0) // e.g. "before" / "after"
    val outDir = args(1) // e.g. "plans/r20"
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        executed.add(s"== execution: $funcName ==\n" +
          qe.explainString(FormattedMode))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit =
        executed.add(s"== failed execution: $funcName ==\n" +
          qe.explainString(FormattedMode))
    })
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      executed.clear()
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      org.apache.spark.sql.graftbridge.SqlBridge.drainListeners(spark)
      import scala.jdk.CollectionConverters._
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
        (s"== returned frame ==\n$plan" +: executed.asScala.toSeq)
          .mkString("\n"))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt " +
        s"(${executed.size} executions)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
