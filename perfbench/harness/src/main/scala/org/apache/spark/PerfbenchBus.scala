package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read after an iteration include all of
  * that iteration's task-end events. The bus is package-private to
  * Spark, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
