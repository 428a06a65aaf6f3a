package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev utility (optimization rounds): for each named query, dump
  * `.explain("formatted")` BEFORE execution and the AQE FINAL plan AFTER
  * executing through the noop sink (the bench's own action), plus the
  * wall time of each of N runs. The initial plan shows what Catalyst
  * planned; the final plan shows what AQE actually ran (joins rewritten
  * to broadcast, coalesced exchanges) — optimization claims are checked
  * against the FINAL plan, bench claims against min-of-N seconds.
  *
  * Usage: `sbt "runMain graft.QueryProbe <outDir> <runs> q_a q_b ..."`
  * Writes <outDir>/<name>.txt; timings go to stdout as `[probe] ...`.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.GraftSession.local(cpus)
    Files.createDirectories(Paths.get(outDir))

    // Per-job wall clock: multi-job queries (iterative builders, eager
    // checkpoints, artifact chains) hide their cost split from the SQL
    // plan; the job log attributes it. Printed after each probed query.
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobStart.put(js.jobId, (js.time, desc)): Unit
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(je.jobId)).foreach { case (t0, desc) =>
            jobLog.add(f"job=${je.jobId}%4d ${(je.time - t0) / 1e3}%7.3fs $desc"): Unit
          }
        }
      })

    // Same warmup discipline as Bench: one query + the codegen path.
    SparkEntry.queries("q_scan")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    names.foreach { name =>
      val sb = new StringBuilder
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"== $name: initial plan (explain formatted) ==\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val times = (1 to runs).map { i =>
        if (i == runs) jobLog.clear() // keep only the last run's job log
        val t0 = System.nanoTime()
        val dfr = SparkEntry.queries(name)(spark, sfDir)
        dfr.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        sec
      }
      sb.append(s"\n\n== per-job wall clock (last timed run) ==\n")
      jobLog.forEach(l => sb.append(l).append('\n'))
      // Final plan: the noop write above runs its OWN QueryExecution, so
      // this df's plan would print un-finalized (isFinalPlan=false). Force
      // THIS QueryExecution's RDD instead — after the action,
      // AdaptiveSparkPlanExec.toString shows the runtime-final plan
      // (broadcast rewrites, AQEShuffleRead coalescing).
      val dfe = SparkEntry.queries(name)(spark, sfDir)
      val qe = dfe.queryExecution
      qe.toRdd.count(): Unit
      sb.append("\n\n== final (AQE-executed) plan ==\n")
      sb.append(qe.executedPlan.toString)
      spark.catalog.clearCache()
      Files.write(Paths.get(outDir, s"$name.txt"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[probe] $name runs=${times.map(t => f"$t%.3f").mkString(",")} " +
        f"min=${times.min}%.3f")
    }
    spark.stop()
  }
}
