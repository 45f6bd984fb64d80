package org.apache.spark

/** Lives in Spark's package only to reach the listener bus's
  * `waitUntilEmpty`: listener events arrive asynchronously, so counts read
  * right after an action could otherwise miss its last tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
