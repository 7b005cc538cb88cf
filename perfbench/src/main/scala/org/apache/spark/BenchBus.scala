package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so listener counts can be attributed to the operation
  * that caused them. `waitUntilEmpty` is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
