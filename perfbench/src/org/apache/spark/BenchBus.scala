package org.apache.spark

/** Drains the listener bus so every event of the finished work has
  * reached the benchmark's listeners before their counts are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
