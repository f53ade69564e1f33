package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * job counts read from the status tracker are complete. The listener bus
  * is package-private to Spark.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
