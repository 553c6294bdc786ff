package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every queued listener event of a pass before it
  * reads the pass's counters.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
