package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark drains it
  * after each traced operation so that every listener event of that
  * operation has been delivered before its counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
