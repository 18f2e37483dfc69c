package org.apache.spark

/** Access to the one private[spark] call the benchmark needs: waiting
  * until every listener has seen every event posted so far, so that
  * job counters are complete before they are attributed.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
