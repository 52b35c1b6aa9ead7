package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block
  * until the listener bus has delivered every queued event, so engine
  * counters read after a span are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
