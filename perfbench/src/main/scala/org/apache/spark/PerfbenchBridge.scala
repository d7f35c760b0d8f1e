package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener has seen the events of the calls made so far, so per-call
  * listener totals are complete before they are read. Lives in Spark's
  * package because the listener bus is `private[spark]`.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
