package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus calls the tracer needs; both are `private[spark]`,
  * hence this package. */
object Bus {
  /** Enqueue `event` behind every event already posted, so listeners on
    * the shared queue see it in program order. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Block until every posted event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
