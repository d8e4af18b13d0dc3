package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark only needs to wait
  * until every posted event has reached its listeners before it reads them.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
