package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * counts read after an op include all of that op's jobs and tasks.
  * The listener bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
