package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`; this shim is the only reason
  * the benchmark declares a class in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
