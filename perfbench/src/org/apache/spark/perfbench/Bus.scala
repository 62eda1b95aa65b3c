package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark: task-end
  * events are delivered asynchronously, so a job's statistics are complete
  * only after the bus has drained. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
