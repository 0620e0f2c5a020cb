package org.apache.spark

/** Listener-bus access for the benchmark's tracer: events reach
  * listeners asynchronously, so the tracer drains the bus at each call
  * boundary to attribute every event to the call that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
