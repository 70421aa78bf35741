package org.apache.spark

/** Lets the benchmark wait until every event already posted to the
  * listener bus has been delivered, so the per-op attribution of job,
  * task and query events is complete before it is read. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
