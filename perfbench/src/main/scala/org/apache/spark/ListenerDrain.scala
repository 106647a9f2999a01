package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counts read right after an action include that action. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
