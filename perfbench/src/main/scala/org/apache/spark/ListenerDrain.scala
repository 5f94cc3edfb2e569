package org.apache.spark

/** Waits until the context's listener bus has delivered every posted
  * event, so a listener's counters are complete before they are read.
  * (`LiveListenerBus.waitUntilEmpty` is package-private to Spark.)
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty(timeoutMs)
}
