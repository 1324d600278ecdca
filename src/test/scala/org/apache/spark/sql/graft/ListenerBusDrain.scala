package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Specs that count scheduler events with a SparkListener must wait for
  * the asynchronous listener bus to deliver them; the bus is
  * package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
