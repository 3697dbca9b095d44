package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so listener totals are complete before a run reads them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
