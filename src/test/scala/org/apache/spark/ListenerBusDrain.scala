package org.apache.spark

/** Test-side access to the `private[spark]` listener bus: listener
  * events are delivered asynchronously, so a test that counts them
  * first waits until every posted event has been handled. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
