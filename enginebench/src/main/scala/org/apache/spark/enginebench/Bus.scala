package org.apache.spark.enginebench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark. The runner drains it
  * between ops, so listener work from one op does not run into the next,
  * and the tracer drains it at each op's end so every event of the op is
  * attributed to it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
