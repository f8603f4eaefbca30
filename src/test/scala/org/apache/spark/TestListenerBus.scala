package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`. */
object TestListenerBus {
  /** Blocks until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
