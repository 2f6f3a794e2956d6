package org.apache.spark

/** The listener bus is `private[spark]`; the tracer needs one call on it. */
object PerfbenchBridge {

  /** Block until every event posted so far has reached every listener, so
    * the counters of a finished span are complete before the span closes. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
