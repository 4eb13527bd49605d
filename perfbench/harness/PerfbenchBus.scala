package org.apache.spark

/** The listener bus is private to Spark; this accessor lets the tracer
  * wait until every posted event has been delivered, instead of sleeping.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
