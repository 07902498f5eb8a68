package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the listener
  * bus has delivered every event posted so far, so that the trace of the
  * last op is complete before it is written. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
