package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: block until every event posted so far has reached every
  * listener, so counters read at an op boundary hold that op's events. */
object PerfBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
