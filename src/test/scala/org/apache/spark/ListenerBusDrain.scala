package org.apache.spark

/** Lets a test wait until the listener bus has delivered every queued
  * event, so a listener has seen all jobs of the action it counts. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
