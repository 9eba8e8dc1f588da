package org.apache.spark

/** The one package-private Spark call the tracer needs: wait until the
  * listener bus has delivered every event posted so far, so a span's jobs,
  * tasks and query callbacks are all counted before the span closes.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
