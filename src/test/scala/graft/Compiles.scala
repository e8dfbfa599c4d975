package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Classes Janino compiled while a block ran — codegen-cache misses, read
  * from Spark's own compile-time histogram (one sample per compile). */
object Compiles {
  def during(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
