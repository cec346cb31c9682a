package org.apache.spark

/** The one package-private call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so counters and spans read
  * at the end of a measured phase include its last tasks and stages.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
