package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run's record holds the events of its last pass. The bus is
  * private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
