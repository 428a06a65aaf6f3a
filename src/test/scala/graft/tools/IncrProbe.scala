package graft

import org.apache.spark.sql.functions.col

/** Phase-cost probe for the incremental cluster-append path — splits the
  * IncrSoak `incr` timing into its three stages so a regression or an
  * optimization can be attributed:
  *
  *   pairs  = minHashIncrementalFromBands (increment signatures + band
  *            join against the STORE + exact verify on candidate olds)
  *            ∪ new×new LSH pairs, materialized
  *   update = Dedup.updateClusters (contract → CC → expand)
  *   full   = the full rebuild both are judged against
  *
  * Usage: Test/runMain graft.IncrProbe <dir> <den> [reps]
  * Every phase is warmed once; reported numbers are min over `reps`
  * (default 3) — the same min-of-runs discipline as Bench.
  */
object IncrProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IncrProbe <dir> <den> [reps]")
    val dir = args(0)
    val den = args(1).toInt
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus)
    import graft.operators.Dedup

    val docs = Tables.t(spark, dir, "documents")
    val sh = Dedup.shinglesHashed(col("text"), 5)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val base = docs.filter(col("doc_id") % den =!= (den - 1))
    val incr = docs.filter(col("doc_id") % den === (den - 1))
    // base artifact outside every timed region (the amortized build)
    val baseDir = java.nio.file.Files.createTempDirectory("incrprobe").toString
    Dedup.resolveClusters(
        Dedup.minHashPairsHashed(base, "doc_id", sh, 0.7, 126, 21),
        "id_a", "id_b")
      .write.mode("overwrite").parquet(baseDir + "/clusters")
    Dedup.bandedSignatures(base, "doc_id", sh, 126, 21)
      .write.mode("overwrite").parquet(baseDir + "/bands")
    val existing = spark.read.parquet(baseDir + "/clusters")
    val bands = spark.read.parquet(baseDir + "/bands")

    def pairs() = Dedup.minHashIncrementalFromBands(incr, base, "doc_id",
        sh, bands, 0.7, 126, 21)
      .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      .unionAll(Dedup.minHashPairsHashed(incr, "doc_id", sh, 0.7, 126, 21)
        .select(col("id_a"), col("id_b")))
    def full() = {
      val f = Dedup.resolveClusters(
        Dedup.minHashPairsHashed(docs, "doc_id", sh, 0.7, 126, 21),
        "id_a", "id_b")
      f.write.format("noop").mode("overwrite").save()
    }
    def bench(name: String, f: () => Unit): Unit = {
      f() // warm
      val t = (1 to reps).map { _ =>
        spark.catalog.clearCache(); time(f())._2
      }.min
      println(f"[incrprobe] den=$den%-3d $name%-7s min=${t}%6.2f s (of $reps)")
    }
    // the materialized pair table updateClusters actually receives, so
    // the update phase prices ONLY contract → CC → expand
    val matPairs = pairs().localCheckpoint(true)
    println(s"[incrprobe] incr_docs=${incr.count()} pairs=${matPairs.count()} " +
      s"stored=${existing.count()}")
    bench("pairs", () =>
      pairs().write.format("noop").mode("overwrite").save())
    bench("update", () =>
      Dedup.updateClusters(existing, matPairs)
        .write.format("noop").mode("overwrite").save())
    bench("chain", () =>
      Dedup.updateClusters(existing, pairs())
        .write.format("noop").mode("overwrite").save())
    bench("full", () => full())
    spark.stop()
  }
}
