package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

/** The context's listener bus is package-private to Spark, so the one read
  * graft needs of it lives under Spark's package. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Block removal without `RDD.unpersist`, which WARNs for every locally
  * checkpointed RDD that its lineage cannot be recomputed. An iterative
  * loop retires such an RDD every round on purpose, so the WARN is noise. */
object Blocks {
  /** Remove `rdd`'s blocks and unregister it from the context's persistent
    * RDDs, without waiting for the removal. */
  def drop(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
