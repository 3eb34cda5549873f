package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: specs that count
  * jobs through a `SparkListener` drain it before reading their counts. */
object ListenerBusAccess {
  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
