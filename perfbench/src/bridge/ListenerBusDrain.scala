package org.apache.spark

/** Blocks until every posted listener event has been delivered, so that
  * counters read after an action include all of its jobs, stages and
  * tasks. The bus is private to Spark, hence this bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
