package org.apache.spark

/** Access to the one `private[spark]` hook the benchmark needs: waiting until
  * every queued listener event has been delivered, so each timed call starts
  * with an idle listener bus.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
