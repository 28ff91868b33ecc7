package org.apache.spark

/** Test access to the `private[spark]` listener bus: wait until every
  * event posted so far has reached its listeners. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
