package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus: the tracer drains it at span
  * boundaries so every job event of a span is delivered before the span's
  * counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
