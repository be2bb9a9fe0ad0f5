package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the harness reads, both private[spark], so this
  * shim lives under the spark package. */
object SparkInternals {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
