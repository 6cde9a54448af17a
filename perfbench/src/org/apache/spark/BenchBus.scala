package org.apache.spark

/** The listener bus drain the benchmark's counters need: Spark delivers
  * listener events asynchronously, so counters are read only after the
  * bus has delivered everything posted so far. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
