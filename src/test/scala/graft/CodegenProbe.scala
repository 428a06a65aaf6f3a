package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{CodegenBridge, CodegenCacheBridge}

/** What [[CodegenCacheSpec]] measures, in this JVM or, through [[main]],
  * in a second one (spawned as `LeaseContender` is) whose session is built
  * without the factory.
  */
object CodegenProbe {

  /** Projections per round, each its own generated class: more than
    * Spark's default codegen cache capacity of 100.
    */
  val Projections = 120

  /** The classes Spark compiles for one round: a `q_stream_anomaly` drain
    * over `sf`, then [[Projections]] projections whose literals carry
    * `salt` (a salt no earlier query used makes every projection a class
    * this JVM has not compiled).
    */
  def roundCompiles(spark: SparkSession, sf: String, salt: Long): Long = {
    val before = CodegenBridge.compiles
    SparkEntry.queries("q_stream_anomaly")(spark, sf).write.format("noop").mode("overwrite").save()
    (1 to Projections).foreach { i =>
      spark.range(0, 4, 1, 1).selectExpr(s"id * $salt + $i AS v")
        .write.format("noop").mode("overwrite").save()
    }
    CodegenBridge.compiles - before
  }

  /** The class of each context class loader a task ran under: two tasks
    * of a batch job and one of a streaming drain's micro-batch.
    */
  def taskLoaders(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batch = spark.range(0, 4, 1, 2).mapPartitions(_ => Iterator(loaderClass)).collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    mem.addData(1L)
    val sink = s"codegen_probe_${System.nanoTime}"
    val q = mem.toDS().map(_ => loaderClass).writeStream
      .format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    batch.toSeq ++ spark.table(sink).as[String].collect()
  }

  private def isolated(spark: SparkSession): Boolean =
    org.apache.spark.sql.graft.ArtifactBridge.isolatedAs(spark).isDefined

  private def loaderClass: String = Thread.currentThread.getContextClassLoader.getClass.getName

  /** args: mode(register|capacity) sfDir
    *  - `register`: a plain builder session plus `GraftFunctions.register`;
    *    prints `COMPILES <round 1> <round 2>`, `LOADERS <class>...` and
    *    `ISOLATED <the session> <its newSession()>`.
    *  - `capacity`: a plain builder session whose conf alone carries the
    *    codegen cache capacity 1234; compiles one class and prints
    *    `CAPACITY <the cache's capacity>`.
    */
  def main(args: Array[String]): Unit = {
    val Array(mode, sf) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "register" =>
        graft.functions.GraftFunctions.register(spark)
        val salt = System.nanoTime() % 1000000L + 1000L
        val rounds = Seq.fill(2)(roundCompiles(spark, sf, salt))
        println(s"COMPILES ${rounds.mkString(" ")}")
        println(s"LOADERS ${taskLoaders(spark).mkString(" ")}")
        println(s"ISOLATED ${isolated(spark)} ${isolated(spark.newSession())}")
      case "capacity" =>
        spark.sessionState.conf.setConfString(graft.engine.CompiledClasses.CapacityKey, "1234")
        spark.range(3).selectExpr("id + 1").collect()
        println(s"CAPACITY ${CodegenCacheBridge.capacity}")
    }
    org.apache.spark.sql.graft.StateStoreBridge.stopAll()
    spark.stop()
  }
}
