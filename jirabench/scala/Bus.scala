package org.apache.spark.jirabench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private: the traced
  * run drains it at each layer boundary so asynchronous listener events
  * are counted against the layer that caused them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
