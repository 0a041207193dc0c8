package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-op counters
  * read after an op cover exactly that op. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
