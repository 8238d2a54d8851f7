package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus operations the benchmark's tracer needs. The bus is
  * asynchronous: `post` puts an event in order with Spark's own events, and
  * `drain` waits until every event posted so far has been delivered. */
object TracerBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
