package org.apache.spark

/** Deterministic listener drain for the specs' job counters: blocks until
  * every event posted so far has reached every listener, so a count read
  * afterwards is complete without sleeping. Lives in this package only
  * because the listener bus is package-private.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
