package org.apache.spark

/** Test-side bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far has reached every listener, so a spec can
  * read a listener's counts without sleeping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
