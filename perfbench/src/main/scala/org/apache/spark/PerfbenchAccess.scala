package org.apache.spark

/** The two engine internals the benchmark reads: draining the listener
  * bus (so a summary taken after an action sees that action's events)
  * and the process-wide count of whole-stage-codegen compilations.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
