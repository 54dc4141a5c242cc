package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the two `private[spark]` facilities the benchmark reads:
  * the listener bus (drained before counters are read) and the
  * generated-code compile counter.
  */
object SparkShim {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
}
