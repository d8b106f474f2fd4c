package org.apache.spark

/** The listener bus drain the benchmark needs between passes: Spark delivers
  * listener events asynchronously, so a pass's job, task and query events
  * are complete only once the bus is empty. `listenerBus` is
  * `private[spark]`, hence this one-method shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
