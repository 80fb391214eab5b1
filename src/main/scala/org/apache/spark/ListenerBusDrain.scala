package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: Prof
  * and the plan-shape tests read listener counters only after it. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
