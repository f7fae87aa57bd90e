package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener queue has delivered its pending events.
  *
  * The tracer attributes listener events to the span that is open when they
  * arrive, so it must drain the bus before a span closes; the bus is
  * `private[spark]`, hence this shim in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
