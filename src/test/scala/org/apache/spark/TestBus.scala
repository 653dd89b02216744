package org.apache.spark

/** Spark delivers listener events asynchronously; a test that reads a
  * listener's totals right after an action first waits until every event
  * posted so far has been delivered. `waitUntilEmpty` is package-private to
  * Spark, hence this one-line bridge in Spark's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
