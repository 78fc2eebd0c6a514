package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen the last job's tasks before its totals are
  * read. The bus is private to Spark, hence this shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
