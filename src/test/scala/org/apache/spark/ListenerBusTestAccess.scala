package org.apache.spark

/** Test-side bridge to the listener bus: `drain` returns once every event
  * posted so far has been delivered, so a listener's counts are complete.
  * `waitUntilEmpty` is package-private, hence this accessor.
  */
object ListenerBusTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
