package org.apache.spark

/** Listener-bus drain for the benchmark's tracer: `waitUntilEmpty` is
  * package-private to Spark, and span counts are read only after every
  * task-end event of the span's jobs has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
