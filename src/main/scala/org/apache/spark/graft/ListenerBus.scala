package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The context's listener bus is package-private to Spark, so the one read
  * graft needs of it lives under Spark's package. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
