package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every queued event, so stage figures are
  * complete before spans are attributed. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
