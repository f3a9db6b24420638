package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener, so
    * counters read after a pass include all of that pass's jobs.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
