package org.apache.spark

/** Access to the one listener-bus call the tracer needs that Spark keeps
  * package-private: block until every posted event has been delivered, so
  * a phase's counts are complete before they are read. */
object LoadbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
