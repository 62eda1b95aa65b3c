package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark: listener
  * events are delivered asynchronously, so a count of them is complete only
  * after the bus has drained. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
