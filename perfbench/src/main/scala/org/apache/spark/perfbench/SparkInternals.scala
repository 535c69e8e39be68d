package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal readings the benchmark needs, kept in one place
  * because both are `private[spark]`: draining the listener bus (so every
  * task and block event of an op is counted before the op's counters are
  * read) and the Janino compile count.
  */
object SparkInternals {

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
