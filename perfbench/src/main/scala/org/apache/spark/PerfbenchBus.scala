package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a traced run reads complete spans. The listener bus is
  * package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
