package org.apache.spark

/** The listener bus is package-private to Spark: specs that count
  * listener events drain it so that every event of an action has been
  * delivered before they read their counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
