package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Read-only access to Spark counters that are package-private. */
object Internals {
  /** Generated classes compiled so far (codegen cache misses). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Wall time spent compiling generated classes so far, in seconds. */
  def codegenSeconds: Double = CodeGenerator.compileTime / 1e9

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
