package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Test-only bridge to `private[spark]` state: `SparkContext.listenerBus`,
  * so a spec that counts jobs via a SparkListener can drain in-flight
  * events before asserting (listener delivery is async), and the JVM's
  * codegen metrics. */
object GraftTestBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Classes Janino has compiled in this JVM: one per codegen cache miss. */
  def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
