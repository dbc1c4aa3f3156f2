package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.DataFrame

/** Runs a fixed query list in passes: `Q.run` then `count()`, as a caller
  * of `SparkEntry.queries` does.
  *
  * Set-up is one untimed pass in declared order, then `WarmPasses`
  * untimed passes like the timed ones. The first rebuilds the queries'
  * scratch state under the run's own temp directory and checks each
  * result against its committed fingerprint; the next ones carry the
  * JVM past its warm-up (the first warm pass runs ~40% slower than the
  * ones after it). Timed passes follow,
  * each in a seed-shuffled order, until the run's seconds are spent and
  * at least enough passes ran for `MinTail` samples to lie beyond the
  * tail percentile;
  * a pass always completes, so every pass samples every query once.
  * Each count is checked against the fingerprint's row count.
  */
final class QueryBench(ctx: Run, w: QueryWorkload) {
  import QueryBench._

  private val spark = ctx.spark
  private val queries = w.queries.map(n => n -> SparkEntry.queries(n))
  private val expected = Fingerprint.load(Paths.get(ctx.opts.fingerprints))
  private val minPasses =
    Iterator.from(1).find(k => Stats.beyond(k * queries.size, Metrics.TailRank) >= MinTail).get

  private final case class Sample(name: String, seconds: Double, traced: Boolean)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private val planSeconds = mutable.ArrayBuffer.empty[Double]
  private val persisted = mutable.ArrayBuffer.empty[Double]

  def run(): Result = {
    require(w.queries.forall(expected.contains),
      s"no committed fingerprint for ${w.queries.filterNot(expected.contains).mkString(", ")}")
    System.err.println(f"perfbench: session ready ${(Main.epochNs() - ctx.opts.launchedNs) / 1e9}%.3f s after launch")
    for ((name, q) <- queries) {
      val w0 = System.nanoTime()
      ctx.attempt(s"$name (warm-up)") {
        val got = Fingerprint.of(q(spark, ctx.opts.data))
        if (got != expected(name)) ctx.fail(s"$name: fingerprint $got, expected ${expected(name)}")
      }
      spark.catalog.clearCache()
      System.err.println(f"perfbench: warm-up $name%-28s ${(System.nanoTime() - w0) / 1e9}%.3f s")
    }
    for (i <- 0 until WarmPasses) runPass(i, timed = false, traced = false)
    ctx.setupDone()

    val deadline = ctx.deadlineFrom(System.nanoTime())
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline ||
        (ctx.tracer.nonEmpty && pass < Tracer.Turns)) {
      val traced = ctx.tracer.nonEmpty && Tracer.tracedTurn(pass)
      ctx.tracer.foreach(t => if (traced) t.start() else t.stop())
      runPass(WarmPasses + pass, timed = true, traced)
      pass += 1
    }
    ctx.tracer.foreach(_.stop())
    for (name <- w.queries) {
      val s = samples.filter(x => x.name == name && !x.traced).map(_.seconds).toSeq
      if (s.nonEmpty) System.err.println(f"perfbench: $name%-28s median ${Stats.median(s)}%.3f s over ${s.size}: " +
        s.map(x => f"$x%.4f").mkString(" "))
    }
    Result(ctx.attempted, ctx.failed, metrics(), ctx.tracer.nonEmpty)
  }

  /** One pass over every query in a seed-shuffled order. An untimed pass
    * checks the row counts too, but keeps no sample. */
  private def runPass(pass: Int, timed: Boolean, traced: Boolean): Unit = {
    val order = new scala.util.Random(RepoGen.mix(ctx.opts.seed, pass.toLong)).shuffle(queries)
    val p0 = System.nanoTime()
    if (traced) openTables()
    for ((name, q) <- order) {
      val q0 = System.nanoTime()
      ctx.attempt(name) {
        val rows = ctx.span(s"queries.${Workloads.packOf(name)}") {
          val df = ctx.span("queries.build")(q(spark, ctx.opts.data))
          ctx.span("queries.exec")(if (traced) tracedCount(df) else df.count())
        }
        val secs = (System.nanoTime() - q0) / 1e9
        if (rows != expected(name).rows) ctx.fail(s"$name: $rows rows, expected ${expected(name).rows}")
        else if (timed) samples += Sample(name, secs, traced)
      }
      if (traced) persisted += spark.sparkContext.getPersistentRDDs.size.toDouble
      spark.catalog.clearCache()
    }
    val secs = (System.nanoTime() - p0) / 1e9
    if (timed) passes += ((secs, traced))
    else System.err.println(f"perfbench: warm-up pass $pass $secs%.3f s")
  }

  /** The same aggregate `count()` runs, collected so the planning phases
    * of exactly this query can be read from its tracker. */
  private def tracedCount(df: DataFrame): Long = {
    val agg = df.groupBy().count()
    val n = agg.collect().head.getLong(0)
    planSeconds += agg.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
    n
  }

  private def openTables(): Unit = for (t <- TableNames) ctx.span("Tables.open") {
    if (t == "events") Tables.events(spark, ctx.opts.data)
    else Tables.table(spark, ctx.opts.data, t)
  }

  private def metrics(): Map[String, Double] = {
    val untraced = samples.filterNot(_.traced).map(_.seconds).toSeq
    val timed = passes.filterNot(_._2).map(_._1).toSeq
    val e2e = Map(
      "setup_s" -> ctx.setupSeconds,
      "op_p50_s" -> Stats.quantileOrZero(untraced, 0.5),
      "op_p80_s" -> Stats.quantileOrZero(untraced, Metrics.TailRank),
      "pass_s" -> Stats.quantileOrZero(timed, 0.5),
      "items_per_s" -> untraced.size / timed.sum,
      "peak_rss_mb" -> Main.peakRssMb())
    ctx.tracer.fold(e2e) { t =>
      t.drain()
      val spans = t.spans.toSeq
      def named(n: String) = spans.filter(_.name == n)
      val ops = spans.filter(s => s.parent == 0 && s.name.startsWith("queries."))
      val opCounts = ops.map(t.total)
      val builds = named("queries.build")
      val execs = named("queries.exec")
      val opens = named("Tables.open")
      val tracedPasses = passes.count(_._2).toDouble
      val traced = samples.filter(_.traced).map(_.seconds).toSeq
      Map(
        "Tables.open_s" -> Stats.mean(opens.map(_.seconds)),
        "Tables.open_jobs" -> Stats.mean(opens.map(t.total(_).getOrElse("jobs", 0.0))),
        "queries.build_s" -> Stats.mean(builds.map(_.seconds)),
        "queries.build_jobs" -> Stats.mean(builds.map(t.total(_).getOrElse("jobs", 0.0))),
        "queries.plan_s" -> Stats.mean(planSeconds.toSeq),
        "queries.exec_s" -> (Stats.mean(execs.map(_.seconds)) - Stats.mean(planSeconds.toSeq)),
        "spark.persisted_after_query" -> Stats.mean(persisted.toSeq),
        "trace.overhead_frac" -> (Stats.quantileOrZero(traced, 0.5) / Stats.quantileOrZero(untraced, 0.5) - 1),
      ) ++ Metrics.packs.map { p =>
        s"queries.${p}_s" -> ops.filter(_.name == s"queries.$p").map(_.seconds).sum / tracedPasses
      } ++ Metrics.sparkCounters.map { case (k, _) =>
        s"spark.$k" -> Stats.mean(opCounts.map(_.getOrElse(k, 0.0)))
      }
    }
  }
}

object QueryBench {
  /** Untimed passes after the fingerprint pass. */
  val WarmPasses = 1

  /** Samples a run holds beyond its tail percentile, at least. */
  val MinTail = 10

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Writes the fingerprint file from a `graft.Verify` output directory
    * (one parquet result per query), for the queries the workloads use. */
  def makeFingerprints(opts: Options): Unit = {
    val spark = Main.session(opts.runDir)
    try {
      val names = Workloads.all.collect { case w: QueryWorkload => w.queries }.flatten.distinct
      val prints = names.map(n =>
        n -> Fingerprint.of(spark.read.parquet(s"${opts.makeFingerprints}/$n")))
      Fingerprint.save(Paths.get(opts.fingerprints), prints,
        "query <TAB> rows <TAB> exact sum over the rows of xxhash64(row values)\n" +
          "Written by `perfbench.Main --make-fingerprints <dir>` from graft.Verify\n" +
          "output at sf0.1 whose oracle check (tools/check.py) passed.")
    } finally spark.stop()
  }
}
