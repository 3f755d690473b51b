package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * event posted so far, so a traced region's counters are complete
  * before they are read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
