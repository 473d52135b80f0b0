package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * benchmark's trace can close an op's books without sleeping. The bus is
  * `private[spark]`, hence this one-line shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
