package org.apache.spark

/** Lets the harness wait until every listener event posted so far has been
  * delivered, so a traced query's counters are complete when they are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
