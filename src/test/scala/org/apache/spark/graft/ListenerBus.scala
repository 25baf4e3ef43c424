package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
