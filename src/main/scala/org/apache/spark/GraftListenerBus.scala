package org.apache.spark

/** Spark keeps its listener bus package-private; graft.tools.Profile needs
  * one call on it.
  */
object GraftListenerBus {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
