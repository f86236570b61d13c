package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a spec's
  * listener has seen all jobs and stages of the actions it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
