package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * a spec can count jobs exactly. The listener bus is package-private to
  * Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
