package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * spec can read a SparkListener's totals for the jobs it just ran. The
  * bus is private to Spark; this object lives in Spark's package to reach
  * it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
