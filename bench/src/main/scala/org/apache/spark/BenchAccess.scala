package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so counters read after a measured interval are complete. Replaces a
  * fixed sleep with a deterministic drain.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
