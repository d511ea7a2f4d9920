package org.apache.spark.sql

/**
 * Test-only bridge: a session on the same SparkContext as `spark`, built
 * with NO extensions — so a spec can run one query with and without
 * graft's installed rules and compare. Its confs start from the
 * context's, as any new session's do. The constructor is `private[sql]`.
 */
object GraftPlainSession {
  def of(spark: SparkSession): SparkSession =
    new classic.SparkSession(spark.sparkContext)
}
