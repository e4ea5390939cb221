package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the benchmark's traced runs. Listener events are
  * delivered asynchronously; the driver waits here, off the clock, so an
  * entry's jobs, stages and query-execution events are all recorded before
  * the next entry starts. `listenerBus` is package-private to Spark, hence
  * this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
