package org.apache.spark

/** Lets the benchmark harness wait for Spark's asynchronous listener bus
  * to deliver every posted event before it detaches a listener or reads
  * the listener-side totals. The bus is `private[spark]`, hence this
  * one-line shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
