package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two `private[spark]` hooks the tracer needs; this file lives under
  * the org.apache.spark package only to gain that visibility. */
object Internals {

  /** Block until every posted listener event has been delivered, so span
    * counters are complete when a span's metrics are read. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, mean compile time in ms over the recent
    * reservoir) of whole-stage-codegen classes in this JVM. */
  def codegenCompiles(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
