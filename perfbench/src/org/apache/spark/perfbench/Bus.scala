package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two `private[spark]` hooks the traced benchmark mode reads. */
object Bus {
  /** Block until every posted listener event has been delivered, so counters
    * read next include all work done so far (no fixed sleep). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations so far, mean compile ms of the histogram's reservoir). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
