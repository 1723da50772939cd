package org.apache.spark

/** Deterministic listener drain for the specs' job counters: blocks until
  * every event posted so far has reached every listener, so a count read
  * afterwards is complete without sleeping. Lives in this package only
  * because the listener bus is package-private.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the jobs it submits, counted between two drains
    * (the first keeps earlier tests' queued events out of the count). */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
