package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  *
  * The traced run reads its counters between queries; the scheduler,
  * SQL-execution and streaming listeners all hang off this one bus, so
  * draining it makes each query's counter deltas complete. The bus is
  * `private[spark]`, hence the package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
