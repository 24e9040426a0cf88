package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced pass's jobs, stages and stream progress are
  * all counted before the pass is summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
