package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * Lives in Spark's package because `LiveListenerBus` is `private[spark]`;
  * without it a counter snapshot taken right after an action can miss that
  * action's last task and job events. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
