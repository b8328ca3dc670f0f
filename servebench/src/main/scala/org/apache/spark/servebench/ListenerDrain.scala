package org.apache.spark.servebench

import org.apache.spark.SparkContext

/** Blocks until every Spark listener event posted so far is delivered, so a
  * traced run's per-operation counts are complete before they are read. The
  * listener bus is private to the spark package, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
