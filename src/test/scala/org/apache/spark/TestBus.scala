package org.apache.spark

/** Lets a spec wait until every posted listener event has been
  * delivered, so a listener's view of the jobs is complete before the
  * spec asserts on it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
