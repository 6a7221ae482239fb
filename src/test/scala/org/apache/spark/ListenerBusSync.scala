package org.apache.spark

/** Test access to the session's listener bus, which is `private[spark]`. */
object ListenerBusSync {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
