package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a listener has seen every event
  * of the jobs that already finished only after the bus has drained. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
