package graft


/** Heavy-tail soak runner: times a named subset of SparkEntry.queries
  * against a data dir (same measurement discipline as Bench — noop sink,
  * cache cleared between queries), one line per query. Used with
  * [[SoakGen]]'s sf1 replica to check runtimes scale ~linearly from
  * sf0.1. Usage: Test/runMain graft.Soak <dir> <query...>
  */
object Soak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Soak <dir> <query...>")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      sec
    }
    runOnce(names.head) // warmup (codegen + JVM)
    names.foreach { n =>
      val sec = runOnce(n)
      println(f"[soak] $n%-22s ${sec}%8.2f s")
    }
    spark.stop()
  }
}
