package org.apache.spark

/** The listener bus delivers task and job events asynchronously; a span's
  * counters are complete only once the events of its jobs have been
  * delivered. `waitUntilEmpty` is package-private, hence this accessor.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
