package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced run's counters are complete before they
  * are read. The listener bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
