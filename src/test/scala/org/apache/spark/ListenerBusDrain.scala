package org.apache.spark

/** Test access to the context's listener bus: block until every event
  * posted so far has reached its listeners, so a listener's view of the
  * jobs an action just ran is complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
