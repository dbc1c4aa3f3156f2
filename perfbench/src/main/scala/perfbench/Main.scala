package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options. `run.py` fills in the paths. */
final case class Options(workload: String = "", seed: Long = 0L,
    seconds: Double = 10.0, trace: Boolean = false, data: String = "",
    runDir: String = "", launchedNs: Long = 0L, fingerprints: String = "",
    traceOut: String = "", makeFingerprints: String = "")

object Options {
  def parse(args: Seq[String]): Options = args.grouped(2).foldLeft(Options()) {
    case (o, Seq("--workload", v)) => o.copy(workload = v)
    case (o, Seq("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Seq("--seconds", v)) => o.copy(seconds = v.toDouble)
    case (o, Seq("--trace", v)) => o.copy(trace = v == "1")
    case (o, Seq("--data", v)) => o.copy(data = v)
    case (o, Seq("--run-dir", v)) => o.copy(runDir = v)
    case (o, Seq("--launched-ns", v)) => o.copy(launchedNs = v.toLong)
    case (o, Seq("--fingerprints", v)) => o.copy(fingerprints = v)
    case (o, Seq("--trace-out", v)) => o.copy(traceOut = v)
    case (o, Seq("--make-fingerprints", v)) => o.copy(makeFingerprints = v)
    case (_, other) => throw new IllegalArgumentException(s"bad option: ${other.mkString(" ")}")
  }
}

/** State shared by both kinds of workload within one run. */
final class Run(val spark: SparkSession, val opts: Options) {
  val tracer: Option[Tracer] = if (opts.trace) Some(new Tracer(spark.sparkContext)) else None
  var attempted = 0L
  var failed = 0L
  private var setupEnd = 0L

  /** Runs one operation, counting an exception as a failed one. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(s"$what: $e"); None }
  }

  def fail(why: String): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED $why")
  }

  def span[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))

  /** Marks the end of set-up: process launch to here. */
  def setupDone(): Unit = setupEnd = Main.epochNs()
  def setupSeconds: Double = (setupEnd - opts.launchedNs) / 1e9

  def deadlineFrom(t0: Long): Long = t0 + (opts.seconds * 1e9).toLong

  /** Writes every recorded span with the counts attributed to it. */
  def writeSpans(): Unit = for (t <- tracer; out <- Option(opts.traceOut).filter(_.nonEmpty)) {
    t.drain()
    val t0 = t.spans.headOption.fold(0L)(_.start)
    val lines = t.spans.sortBy(_.id).map { s =>
      val counts = t.own(s.id).toSeq.sorted
        .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_s": ${Json.num((s.start - t0) / 1e9)}, "dur_s": ${Json.num(s.seconds)}, """ +
        s""""counts": {$counts}}"""
    }
    val path = Paths.get(out)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Main {

  def epochNs(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Peak resident memory of this process, from /proc. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def session(runDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = Options.parse(args.toSeq)
    if (opts.makeFingerprints.nonEmpty) return QueryBench.makeFingerprints(opts)
    val workload = Workloads.byName(opts.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '${opts.workload}'; " +
        s"known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val spark = session(opts.runDir)
    val result =
      try {
        val run = new Run(spark, opts)
        val r = workload match {
          case w: QueryWorkload => new QueryBench(run, w).run()
          case w: PipelineWorkload => new PipelineBench(run, w).run()
        }
        run.writeSpans()
        r
      } finally spark.stop()
    println(result.json)
  }
}
