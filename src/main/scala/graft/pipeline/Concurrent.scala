package graft.pipeline

/** Runs a pipeline's independent table writes together. Most of a small
  * write's time is fixed cost (planning, code generation, one-task jobs)
  * that leaves the other cores idle, so writes that read none of each
  * other's output overlap instead of queueing. */
object Concurrent {

  /** Runs each step on a thread started for this call and returns their
    * results in input order once every step has ended. A new thread
    * inherits the caller's Spark local properties (job group and
    * description, scheduler pool, a tracer's span id) and active
    * session; a pooled thread would keep those of whichever caller
    * created it, so no pool outlives the call. When steps fail, the
    * first failure in input order is thrown, the others added to it as
    * suppressed; the steps that did not fail have finished by then. */
  def all[A](steps: Seq[() => A]): Seq[A] = {
    val results = new Array[Any](steps.size)
    val failures = new Array[Throwable](steps.size)
    val threads = steps.zipWithIndex.map { case (step, i) =>
      // a step's failure of any kind is handed to the caller, not lost
      // with its thread
      new Thread(() =>
        try results(i) = step() catch { case t: Throwable => failures(i) = t },
        s"graft-step-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => results.toSeq.map(_.asInstanceOf[A])
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
