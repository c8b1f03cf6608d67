package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: returns once
  * every event posted so far has reached every listener, so a spec can
  * count the jobs an action started without sleeping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
