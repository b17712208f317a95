package org.apache.spark

/** Test access to the listener bus's drain: `waitUntilEmpty` is
  * package-private to Spark, and a listener's counts are complete only
  * once every event of the jobs before the call has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
