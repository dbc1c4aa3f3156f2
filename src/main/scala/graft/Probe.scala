package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Ad-hoc query profiler (NOT part of the bench contract). Each named
  * query runs once warm, then once measured; the measured run
  *   - writes `<outDir>/<name>_<tag>.txt`: `.explain("formatted")` of
  *     the returned frame, then the final plan of EVERY SQL execution
  *     the query ran while building that frame (queries that collect
  *     internally — the SQL-door s12–s26/k33 family returns a local
  *     summary frame — show their real scans only there), captured
  *     before the final `count()`;
  *   - prints a PROBE line (build and count wall time, rows, jobs,
  *     stages, tasks), then one line per job and one per stage — driver
  *     loops span many actions, which `explain` can't show.
  * Names may be separated by spaces or commas; pass a name several
  * times to time it several times.
  *
  *   SPARK_GRAFT_SF_DIR=<sf0.1 tables> sbt "runMain graft.Probe after plans/r20 gr1_pagerank j11_fuzzy_block_join"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val tag = args(0) // e.g. "before" / "after"
    val outDir = args(1) // e.g. "plans/r20"
    val names = args.drop(2).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the directory of the input tables"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_PROBE_LOOPW").foreach(w =>
      spark.conf.set("spark.graft.loop.partitions", w))

    final case class JobRec(id: Int, start: Long, stages: Int, tasks: Int,
        var end: Long = 0L)
    final case class StageRec(id: Int, name: String, tasks: Int,
        submitted: Long, completed: Long, taskTimeMs: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, JobRec(j.jobId, j.time, j.stageInfos.size,
          j.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        stages.add(StageRec(i.stageId, i.name.takeWhile(_ != '\n').take(60),
          i.numTasks, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.taskMetrics.executorRunTime))
      }
    })
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

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      spark.catalog.clearCache()
      SqlBridge.drainListeners(spark)
      jobs.clear(); stages.clear(); executed.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val build = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(FormattedMode)
      SqlBridge.drainListeners(spark)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
        (s"== returned frame ==\n$plan" +: executed.asScala.toSeq).mkString("\n"))
      val t1 = System.nanoTime()
      val n = df.count()
      val wall = build + (System.nanoTime() - t1) / 1e9
      SqlBridge.drainListeners(spark)
      val recs = jobs.values().asScala.toSeq.sortBy(_.id)
      val jobSec = recs.map(r => (r.end - r.start) / 1e3).sum
      println(f"PROBE $name wall=$wall%.3f s build=$build%.3f s rows=$n " +
        f"jobs=${recs.size} stages=${recs.map(_.stages).sum} " +
        f"tasks=${recs.map(_.tasks).sum} job_time_sum=$jobSec%.3f s " +
        f"(gap=${wall - jobSec}%.3f s driver/planning)")
      recs.foreach { r =>
        println(f"  job ${r.id}%4d  ${(r.end - r.start) / 1e3}%7.3f s  " +
          f"stages=${r.stages}%3d tasks=${r.tasks}%5d")
      }
      stages.asScala.toSeq.sortBy(_.id).foreach { s =>
        println(f"  stage ${s.id}%4d wall=${(s.completed - s.submitted) / 1e3}%7.3f" +
          f" taskSum=${s.taskTimeMs / 1e3}%7.3f tasks=${s.tasks}%4d  ${s.name}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
