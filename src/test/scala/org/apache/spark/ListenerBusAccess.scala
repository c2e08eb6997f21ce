package org.apache.spark

/** Test access to the one scheduler hook Spark keeps package-private: block
  * until every event posted so far has reached every listener. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
