package org.apache.spark

/** The one package-private call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so counters read
  * after an action include that action's tasks. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
