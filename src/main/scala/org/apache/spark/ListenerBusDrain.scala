package org.apache.spark

/** Access to the driver's listener bus: events reach listeners
  * asynchronously, so code that counts jobs or stages around an action
  * (`graft.Tool jobs`, the job-budget specs) must wait until every event
  * posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
