package org.apache.spark

/** Deterministic listener drain for the benchmark's tracer: blocks until
  * every event posted so far has been delivered to every listener, so a
  * span's job and task counts are complete when it is rolled up. Lives in
  * this package only because the listener bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
