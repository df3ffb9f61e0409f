package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far, so a
  * span that ends after an action reads the counters of that action and
  * not of the one before it. The listener bus is private to Spark, hence
  * this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
