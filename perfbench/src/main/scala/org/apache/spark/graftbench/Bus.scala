package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The number of listeners on a context's bus, which Spark keeps private. */
object Bus {
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
