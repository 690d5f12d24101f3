package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that
  * counts read from a benchmark listener cover all work submitted so far.
  * Lives in this package because `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
