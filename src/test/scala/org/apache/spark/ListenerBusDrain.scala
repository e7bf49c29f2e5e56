package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** Lets a test listen to exactly the events of one action: the listener
  * bus is drained before the listener is added, and again before it is
  * removed, so the listener has seen every job of the action it counts and
  * none from before it. */
object ListenerBusDrain {
  def observe[T](sc: SparkContext, listener: SparkListenerInterface)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try { val r = body; sc.listenerBus.waitUntilEmpty(); r }
    finally sc.removeSparkListener(listener)
  }
}
