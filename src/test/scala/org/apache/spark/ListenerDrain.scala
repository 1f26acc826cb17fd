package org.apache.spark

/** Test access to the listener bus: listener events arrive asynchronously,
  * so a test reads what a `SparkListener` collected only after draining. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
