package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is private to the spark
  * package: waits until every posted event has been delivered, so a
  * listener's counts are complete when a spec reads them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
