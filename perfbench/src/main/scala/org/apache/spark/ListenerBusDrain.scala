package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The traced run calls it between jobs, outside the timed region, so a
  * job's listener events are attributed to that job and no later one.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
