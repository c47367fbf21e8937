package org.apache.spark

/** The one scheduler internal the tracer needs: waiting until the listener
  * bus has delivered every event, so counts read at the end are complete. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
