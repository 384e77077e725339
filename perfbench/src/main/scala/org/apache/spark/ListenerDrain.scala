package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced operation's job and task records are complete before the
  * benchmark reads them. The bus's drain call is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
