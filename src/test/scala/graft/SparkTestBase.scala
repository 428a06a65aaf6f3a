package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across suites (getOrCreate dedups).
  * local[4,2] = 4 threads with task maxFailures 2, so resilience tests can
  * inject a first-attempt task failure and see the retry succeed (plain
  * local[4] fails the job on the first task failure).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.GraftSession.local("4,2")
  /** `spark` with the size rule's threshold at 0, so every plan is planned
    * as above it: for specs that pin a distributed plan shape on inputs
    * this small.
    */
  lazy val distributed: SparkSession =
    org.apache.spark.sql.graft.SizedSession.of(spark, Some(graft.plans.SmallInput(0)))
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started. Jobs are matched by a
    * local property set on this thread only, so a job from any other
    * thread cannot land in the count.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val a = body
      org.apache.spark.sql.graft.ListenerBusBridge.drain(spark)
      (a, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
