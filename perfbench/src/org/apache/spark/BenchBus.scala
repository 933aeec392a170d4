package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listeners' totals only after every posted event was delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
