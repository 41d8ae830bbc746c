package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's bus after the action that caused them
  * returns. Draining the bus at the end of a timed phase makes the phase's
  * counters complete; the bus is private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
