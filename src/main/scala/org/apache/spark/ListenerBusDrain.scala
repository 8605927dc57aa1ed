package org.apache.spark

/** The listener bus is package-private to Spark: callers that count
  * listener events (BenchReps' task totals, the job-count specs) drain
  * it so that every event of an action has been delivered before they
  * read their counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
