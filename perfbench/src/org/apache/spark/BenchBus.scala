package org.apache.spark

/** Drains the listener bus so job-group counters are complete before
  * the benchmark reads them. The bus is internal to `org.apache.spark`;
  * this is the only reason the benchmark has a file in that package. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
