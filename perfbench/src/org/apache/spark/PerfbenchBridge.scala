package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so a span's jobs
  * are attributed before the span closes.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
