package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so the traced run's counters are complete when an operation ends.
  * The bus is `private[spark]`, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
