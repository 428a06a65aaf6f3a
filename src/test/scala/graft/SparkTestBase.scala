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
  val sf: String = "/root/testdata/sf0.001"
}
