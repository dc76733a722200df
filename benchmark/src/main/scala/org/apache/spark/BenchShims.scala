package org.apache.spark

/** The one engine-internal call the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so span counters are
  * complete before they are read. */
object BenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
