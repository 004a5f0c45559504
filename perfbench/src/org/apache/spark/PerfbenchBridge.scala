package org.apache.spark

/** The one Spark-internal call the benchmark needs: draining the
  * listener bus, so a pass's task, job and streaming-progress events are
  * all delivered before its counters are read and detached. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
