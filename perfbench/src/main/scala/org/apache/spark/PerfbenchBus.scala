package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * queued event, so a traced pass's listener has seen all of its jobs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
