package org.apache.spark

/** The engine-internal calls the benchmark needs. */
object PerfbenchBus {
  /** Wait until every event posted so far has reached the listeners, so
    * stage metrics read right after an action are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Remove every block of an RDD, also one no longer marked persistent. */
  def unpersist(sc: SparkContext, rddId: Int): Unit = sc.unpersistRDD(rddId, blocking = true)
}
