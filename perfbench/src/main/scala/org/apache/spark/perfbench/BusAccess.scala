package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; waiting for it to drain lets
  * the benchmark read its listener right after a job ends. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
