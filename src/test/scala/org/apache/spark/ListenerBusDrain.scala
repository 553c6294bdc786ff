package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that counts jobs with a `SparkListener` waits here until every event
  * posted so far has been delivered, so a count of zero means zero.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
