package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus, which Spark
  * keeps package-private. */
object ListenerBus {

  /** Blocks until every event posted so far has reached the listeners,
    * so counters read afterwards are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
