package org.apache.spark

/** Engine access to Spark-internal calls. */
object GraftAccess {

  /** Blocks until every listener event posted so far has been
    * delivered, so counters read after a measured interval are
    * complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
