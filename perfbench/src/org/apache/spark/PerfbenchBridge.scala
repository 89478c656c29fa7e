package org.apache.spark

/** Access to the `private[spark]` listener bus, so the tracer can wait
  * until every event of a finished key has been delivered before it
  * reads its counters. Lives in `org.apache.spark` for access only.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
