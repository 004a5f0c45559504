package org.apache.spark

/** The one Spark-internal call the job-budget spec needs: draining the
  * listener bus, so every job event of a build or a save is delivered
  * before its count is read. */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
