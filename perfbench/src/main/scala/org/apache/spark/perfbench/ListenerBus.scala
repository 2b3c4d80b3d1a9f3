package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every posted event has reached the listeners, so a
    * read of listener counters right after a job sees its trailing
    * task-end events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
