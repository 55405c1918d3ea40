package org.apache.spark

/** Access to the driver's listener bus, which is package-private to
  * Spark: the benchmark reads listener counters only after every event
  * posted so far has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
