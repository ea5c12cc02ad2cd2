package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus drain (`private[spark]`): block until
  * every event posted so far has reached the registered listeners, so a
  * count taken by a test listener is complete.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
