package org.apache.spark

/** The benchmark's one reach into Spark-private API: waiting for the
  * listener bus, so listener counts belong to the call that just ended. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
