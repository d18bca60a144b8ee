package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package. Listener events are delivered asynchronously, so a count read
  * right after an action can miss the action's last events; draining the
  * bus first makes job, stage and task counts exact. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
