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

/** A clone of `spark` (conf, temp views, functions, planner additions)
  * whose size rule is `rule`, or that runs none. `cloneSession` is
  * private[sql], hence this package. Specs that pin a distributed plan
  * shape on tiny inputs plan on `SizedSession.of(spark, Some(SmallInput(0)))`.
  */
object SizedSession {
  import graft.plans.SmallInput

  def of(spark: SparkSession, rule: Option[SmallInput]): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    val exp = clone.experimental
    exp.extraOptimizations = exp.extraOptimizations.filterNot(_.isInstanceOf[SmallInput]) ++ rule
    clone
  }
}
