package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is package-private to Spark; the
  * trace summary needs every posted task event before it aggregates. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
