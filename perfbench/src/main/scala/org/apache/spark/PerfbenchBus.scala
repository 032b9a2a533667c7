package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so a traced pass's events are all delivered before they are
  * read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
