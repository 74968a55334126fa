package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run needs it drained
  * before it reads its span counters, or the last jobs' task-end events
  * could still be in flight. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
