package org.apache.spark

/** One forwarding call into the package-private listener bus: the trace
  * collector drains the asynchronous bus after each op so that every
  * listener event lands on the op that caused it.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
