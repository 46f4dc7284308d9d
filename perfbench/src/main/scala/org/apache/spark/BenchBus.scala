package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so a unit's listener counters are complete when read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
