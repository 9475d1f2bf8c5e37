package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every job and task event before it summarises.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
