package org.apache.spark

/** The one engine internal the benchmark needs: wait until every listener
  * has seen every event posted so far, so counters read after an action
  * cover that action.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
