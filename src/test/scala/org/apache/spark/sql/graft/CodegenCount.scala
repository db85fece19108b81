package org.apache.spark.sql.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Classes Janino has compiled in this JVM so far: the count of Spark's
  * codegen compilation-time histogram, which records one sample per
  * compile and none for a codegen cache hit. Lives here because
  * `CodegenMetrics` is `private[spark]`. */
object CodegenCount {
  def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
