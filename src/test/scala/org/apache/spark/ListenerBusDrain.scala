package org.apache.spark

/** The listener bus is private to Spark; this accessor lets a spec wait
  * until every posted event has been delivered, instead of sleeping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
