package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * tracer sees all job and stage events a step posted without sleeping.
  * Lives under `org.apache.spark` because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
