package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's tracer reads complete job, task and SQL-execution
  * records. `listenerBus` is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
