package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so listener figures read after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
