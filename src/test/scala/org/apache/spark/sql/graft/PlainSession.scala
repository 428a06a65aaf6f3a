package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** A session on `spark`'s SparkContext but with NO session extensions —
  * what a caller gets who never heard of GraftExtensions (the context's
  * conf sets no `spark.sql.extensions`). The constructor is private[sql],
  * hence this package (same access-only pattern as the main-scope
  * bridges).
  */
object PlainSession {
  def on(spark: SparkSession): SparkSession =
    new classic.SparkSession(spark.sparkContext)
}
