package org.apache.spark

/** Spark delivers listener events asynchronously. The benchmark reads its
  * listener's totals right after an action returns, so it first waits until
  * every event posted so far has been delivered. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge in Spark's package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
