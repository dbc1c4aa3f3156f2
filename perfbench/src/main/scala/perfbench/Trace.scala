package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed region around a call the benchmark makes into a layer. */
final class Span(val id: Long, val parent: Long, val name: String, val start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** One SQL execution's counts, with the path its plan writes files to. */
final case class Execution(writes: Option[String], counts: Map[String, Double])

/** Records spans around the benchmark's own calls and attributes Spark
  * listener counts to the innermost span open when each job started.
  *
  * The open span's id rides the job as a Spark local property, so the
  * attribution needs no timing guesswork: a job, its stages and their
  * tasks belong to the span whose property the job carries. Nothing in
  * the program under test is instrumented.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val listener = new SpanListener
  private var nextId = 1L
  private var open: List[Span] = Nil
  private var recording = false
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Spans and counts are recorded only between `start` and `stop`;
    * outside, `span` just runs its body. `stop` first waits for the
    * events already posted, so none of them is lost. */
  def start(): Unit = if (!recording) { sc.addSparkListener(listener); recording = true }
  def stop(): Unit = if (recording) {
    drain()
    sc.removeSparkListener(listener)
    recording = false
  }

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val s = new Span(nextId, open.headOption.fold(0L)(_.id), name, System.nanoTime())
      nextId += 1
      val outer = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      open = s :: open
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProperty, outer)
        spans += s
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = ListenerBus.drain(sc)

  /** Counts attributed to this span alone. */
  def own(id: Long): Map[String, Double] = listener.counts(id)

  /** Counts of the span and every span nested in it. */
  def total(s: Span): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Map[String, Double]] =
      own(id) +: children.getOrElse(id, Nil).toSeq.flatMap(c => walk(c.id))
    sum(walk(s.id))
  }

  /** The SQL executions whose jobs ran in this span (not in nested
    * ones), in the order they started. */
  def executions(id: Long): Seq[Execution] = listener.executions(id)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** A traced run measures its passes (or batches) untraced, traced,
    * traced, untraced, so that a steady drift (the JVM still warming up,
    * the host slowing) weighs on both sides alike and their ratio is the
    * tracing overhead. It measures at least these four turns. */
  val Turns = 4
  def tracedTurn(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** The write command's details in a formatted plan: the operator
    * line, then its `Arguments:` line, which starts with the path. */
  private val FileWrite = """(?s)InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)""".r

  /** The path a physical plan description writes files to, if any. */
  def writtenPath(plan: String): Option[String] =
    FileWrite.findFirstMatchIn(plan).map(_.group(1))
}

/** Sums listener events per span, and per SQL execution within a span.
  * Events arrive on the listener thread. */
private final class SpanListener extends SparkListener {

  private final class Exec(val order: Long, val writes: Option[String]) {
    var span = 0L
    val counts = mutable.Map.empty[String, Double]
  }

  private val bySpan = new ConcurrentHashMap[Long, mutable.Map[String, Double]]
  private val byExecution = new ConcurrentHashMap[Long, Exec]
  private val started = new AtomicLong
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Option[Exec])]
  private val stageStart = new ConcurrentHashMap[Int, Long]

  def counts(span: Long): Map[String, Double] =
    Option(bySpan.get(span)).fold(Map.empty[String, Double])(m => m.synchronized(m.toMap))

  def executions(span: Long): Seq[Execution] =
    byExecution.values.asScala.toSeq.sortBy(_.order)
      .map(e => e.synchronized((e.span, Execution(e.writes, e.counts.toMap))))
      .collect { case (s, x) if s == span && x.counts.nonEmpty => x }

  private def add(span: Long, exec: Option[Exec], kv: (String, Double)*): Unit = {
    val m = bySpan.computeIfAbsent(span, _ => mutable.Map.empty[String, Double])
    def into(target: mutable.Map[String, Double]): Unit =
      kv.foreach { case (k, v) => target(k) = target.getOrElse(k, 0.0) + v }
    m.synchronized(into(m))
    exec.foreach(e => e.synchronized(into(e.counts)))
  }

  /** A nested execution (one an execution starts inside itself) writes
    * where its root execution writes. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val root = s.rootExecutionId.filter(_ != s.executionId)
        .flatMap(r => Option(byExecution.get(r))).flatMap(_.writes)
      byExecution.put(s.executionId,
        new Exec(started.incrementAndGet(), root.orElse(Tracer.writtenPath(s.physicalPlanDescription))))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { id =>
      val span = id.toLong
      val exec = Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
        .flatMap(x => Option(byExecution.get(x.toLong)))
      exec.foreach(x => x.synchronized(if (x.span == 0L) x.span = span))
      e.stageInfos.foreach(s => stageOwner.put(s.stageId, (span, exec)))
      add(span, exec, "jobs" -> 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageStart.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (span, exec) =>
      add(span, exec, "stages" -> 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (span, exec) =>
      val wait = Option(stageStart.get(e.stageId))
        .fold(0.0)(t => math.max(0L, e.taskInfo.launchTime - t) / 1e3)
      add(span, exec, "tasks" -> 1, "task_wait_s" -> wait,
        "failed_tasks" -> (if (e.taskInfo.successful) 0 else 1))
      Option(e.taskMetrics).foreach { m =>
        add(span, exec,
          "task_run_s" -> m.executorRunTime / 1e3,
          "task_cpu_s" -> m.executorCpuTime / 1e9,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
          "output_records" -> m.outputMetrics.recordsWritten.toDouble)
      }
    }
}
