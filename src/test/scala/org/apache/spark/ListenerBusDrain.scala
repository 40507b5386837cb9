package org.apache.spark

/** Test access to the driver's listener bus: events reach listeners
  * asynchronously, so a spec that counts jobs or stages around an action
  * must wait until every event posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
