package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.pipeline.Runner
import graft.storage.ParquetCatalog
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** Runs generated micro-batches through `pipeline.Runner`, from
  * in-memory JSON to committed gold, over one `ParquetCatalog` that
  * starts empty.
  *
  * Set-up runs the first `warmup` batches untimed: the initial load and
  * the first merge. Timed passes follow until the run's seconds are
  * spent; a pass is the next `batches` micro-batches and always
  * completes. Each batch's input is generated before its timing starts;
  * after it, outside the timing, the catalog is checked against what
  * the generator sent:
  *   - silver holds one row per id ingested so far;
  *   - each id's `stargazers_count` is the latest one sent;
  *   - `gold_technology_metrics` counts every silver row once.
  */
final class PipelineBench(ctx: Run, w: PipelineWorkload) {
  private val spark = ctx.spark
  import spark.implicits._

  private val spec = w.spec
  private val gen = new RepoGen(spec, ctx.opts.seed)
  private val catalog = new ParquetCatalog(spark, Paths.get(ctx.opts.runDir, "catalog").toString)
  private val runner = new Runner(spark, catalog)
  /** Each id's latest star count, as sent. */
  private val latest = mutable.LongMap.empty[Long]
  private var next = 0
  private var broken = false

  private final case class Batch(seconds: Double, traced: Boolean, outputRecords: Double)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val passes = mutable.ArrayBuffer.empty[Double]
  private val reused = mutable.ArrayBuffer.empty[Double]

  def run(): Result = {
    for (_ <- 0 until spec.warmup) batch(timed = false, traced = false)
    ctx.setupDone()
    val deadline = ctx.deadlineFrom(System.nanoTime())
    var pass = 0
    while (!broken && (pass == 0 || System.nanoTime() < deadline ||
        (ctx.tracer.nonEmpty && pass * spec.batches < Tracer.Turns))) {
      val first = pass * spec.batches
      val secs = (first until first + spec.batches)
        .map(i => batch(timed = true, traced = ctx.tracer.nonEmpty && Tracer.tracedTurn(i))).sum
      if (!broken) passes += secs
      pass += 1
    }
    ctx.tracer.foreach(_.stop())
    Result(ctx.attempted, ctx.failed, metrics(), ctx.tracer.nonEmpty)
  }

  /** Sends the next batch; returns its seconds. After a failed batch the
    * catalog no longer matches the generator, so no further batch runs. */
  private def batch(timed: Boolean, traced: Boolean): Double = if (broken) 0.0 else {
    ctx.tracer.foreach(t => if (traced) t.start() else t.stop())
    val b = next
    next += 1
    val ids = gen.ids(b)
    val json = spark.createDataset(gen.batch(b))(Encoders.STRING)
    ids.foreach(id => latest(id) = gen.stars(b, id))
    if (traced) reused += reusedShare(ids)
    val spansBefore = ctx.tracer.fold(0)(_.spans.size)
    val t0 = System.nanoTime()
    val ok = ctx.attempt(s"${w.name} batch $b") {
      ctx.span("pipeline.run")(runner.run(json, gen.processingDate(b)))
    }.isDefined
    val secs = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    broken = !ok || !check(b)
    System.err.println(f"perfbench: batch $b%d ${if (timed) "timed" else "warm-up"} $secs%.3f s, " +
      f"check ${(System.nanoTime() - c0) / 1e9}%.3f s")
    if (!broken && timed) batches += Batch(secs, traced, if (traced) outputRecords(spansBefore) else 0.0)
    if (!broken && traced) for (t <- Seq("bronze_repos", "silver_repos"))
      ctx.span("storage.read")(catalog.read(t))
    secs
  }

  /** Output records the traced `Runner.run` span wrote. */
  private def outputRecords(spansBefore: Int): Double = ctx.tracer.fold(0.0) { t =>
    t.drain()
    t.spans.drop(spansBefore).find(_.name == "pipeline.run")
      .fold(0.0)(t.total(_).getOrElse("output_records", 0.0))
  }

  /** Share of the batch whose existing silver classification smart-skip
    * keeps (the rule in `Silver.smartClassify`). */
  private def reusedShare(ids: Array[Long]): Double = {
    val kept = catalog.read("silver_repos")
      .filter($"technology_category" =!= "Other" && $"technology_subcategory" =!= "unknown" &&
        $"classification_confidence" >= 0.8)
      .join(ids.toSeq.toDF("repository_id"), "repository_id")
      .count()
    kept.toDouble / ids.length
  }

  private def check(b: Int): Boolean = {
    val problems =
      try {
        // silver holds a few thousand rows: compare them on the driver
        val silver = catalog.read("silver_repos").select($"repository_id", $"stargazers_count")
          .collect().map(r => r.getLong(0) -> Option.unless(r.isNullAt(1))(r.getLong(1)))
        val silverRows = silver.length.toLong
        val stars = silver.toMap
        val wrongStars = latest.count { case (id, s) => !stars.get(id).flatten.contains(s) }
        val gold = catalog.read("gold_technology_metrics").agg(sum($"repository_count")).head()
        val goldRows = if (gold.isNullAt(0)) 0L else gold.getLong(0)
        Seq(
          Option.when(silverRows != latest.size)(s"silver has $silverRows rows, sent ${latest.size} ids"),
          Option.when(wrongStars != 0)(s"$wrongStars ids with a missing or stale star count"),
          Option.when(goldRows != silverRows)(
            s"gold_technology_metrics counts $goldRows repos, silver has $silverRows"),
        ).flatten
      } catch { case NonFatal(e) => Seq(s"check failed: $e") }
    if (problems.nonEmpty) ctx.fail(s"${w.name} batch $b: ${problems.mkString("; ")}")
    problems.isEmpty
  }

  private def metrics(): Map[String, Double] = {
    val untraced = batches.filterNot(_.traced).map(_.seconds).toSeq
    val e2e = Map(
      "setup_s" -> ctx.setupSeconds,
      "op_p50_s" -> Stats.quantileOrZero(untraced, 0.5),
      "op_p80_s" -> Stats.quantileOrZero(untraced, Metrics.TailRank),
      "pass_s" -> Stats.quantileOrZero(passes.toSeq, 0.5),
      "items_per_s" -> untraced.size * spec.batchSize / untraced.sum,
      "peak_rss_mb" -> Main.peakRssMb())
    ctx.tracer.fold(e2e) { t =>
      t.drain()
      val runs = t.spans.toSeq.filter(_.name == "pipeline.run")
      val counts = runs.map(t.total)
      val steps = runs.map(stepCounts(t, _))
      val reads = t.spans.toSeq.filter(_.name == "storage.read")
      val traced = batches.filter(_.traced).toSeq
      def mean(k: String) = Stats.mean(counts.map(_.getOrElse(k, 0.0)))
      Map(
        "storage.output_bytes" -> mean("output_bytes"),
        "storage.output_records" -> mean("output_records"),
        "storage.write_amp" -> Stats.mean(traced.map(_.outputRecords / spec.batchSize)),
        "storage.read_s" -> Stats.mean(reads.map(_.seconds)),
        "storage.read_jobs" -> Stats.mean(reads.map(t.total(_).getOrElse("jobs", 0.0))),
        "pipeline.classify_reused_frac" -> Stats.mean(reused.toSeq),
        "trace.overhead_frac" -> (Stats.quantileOrZero(traced.map(_.seconds), 0.5) / Stats.quantileOrZero(untraced, 0.5) - 1),
      ) ++ Metrics.sparkCounters.map { case (k, _) => s"spark.$k" -> mean(k) } ++
        (for (st <- Metrics.steps; (k, _) <- Metrics.stepCounters)
          yield s"pipeline.${st}_$k" -> Stats.mean(steps.map(_(st).getOrElse(k, 0.0))))
    }
  }

  private val catalogRoot = Paths.get(ctx.opts.runDir, "catalog").toString + "/"

  /** The step a write belongs to: the medallion tier of the catalog table
    * it writes (a staged `.tmp-<table>-…` directory counts as its table). */
  private def stepOf(path: String): String = {
    val at = path.indexOf(catalogRoot)
    val table = if (at < 0) "" else
      path.substring(at + catalogRoot.length).takeWhile(_ != '/').stripPrefix(".tmp-")
    Some(table.takeWhile(_ != '_')).filter(Set("bronze", "silver", "gold")).getOrElse("other")
  }

  /** One `Runner.run` span's counts by step. `Runner` runs its steps one
    * after the other, so an SQL execution that writes nothing (a count
    * that materialises a merge, a read's listing job) belongs to the
    * next table written after it; what no write follows, and jobs outside
    * any SQL execution, count as "other". */
  private def stepCounts(t: Tracer, run: Span): Map[String, Map[String, Double]] = {
    val execs = t.executions(run.id)
    val labelled = execs.reverse.scanLeft("other") { (next, e) => e.writes.fold(next)(stepOf) }
      .tail.reverse
    val byStep = execs.zip(labelled).groupMapReduce(_._2)(x => x._1.counts)((a, b) => Tracer.sum(Seq(a, b)))
    val outside = Tracer.sum(Seq(t.total(run)) ++
      byStep.values.map(_.map { case (k, v) => k -> -v }))
    Metrics.steps.map { st =>
      st -> (if (st == "other") Tracer.sum(byStep.get(st).toSeq :+ outside) else byStep.getOrElse(st, Map.empty))
    }.toMap
  }
}
