package org.apache.spark

/** The listener bus's drain barrier is package-private to Spark; the
  * benchmark's traced runs need it so every job, task and query event of
  * a run has been delivered before the per-layer metrics are computed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
