package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * `QueryExecutionListener` has seen every action that has finished. The
  * bus is private to Spark, hence this bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
