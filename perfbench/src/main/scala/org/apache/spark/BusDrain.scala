package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's listeners have seen all jobs and progress reports
  * before the run's figures are read. The bus is internal to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
