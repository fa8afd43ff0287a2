package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the tracer drains the
  * bus after a pass so every event of that pass has been seen before
  * it is attributed. The bus is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
