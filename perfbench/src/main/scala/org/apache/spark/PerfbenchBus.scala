package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read after an operation hold all of its
  * jobs. The bus is private to Spark's package, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
