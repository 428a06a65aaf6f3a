package graft

import org.apache.spark.sql.functions.col

/** Incremental cluster-maintenance cost-shape probe (the soak leg of the
  * r16 verdict's task 1): on one corpus, times
  *
  *   full = minHashPairsHashed(all) -> resolveClusters
  *          (the nightly full rebuild the incremental path replaces)
  *   incr = LSH(new x base) ∪ LSH(new x new) -> Dedup.updateClusters
  *          against the STORED base cluster table
  *
  * for increments of varying size (increment = doc_id % den == den-1),
  * asserting row-identity between the two on every run. The base
  * artifact — cluster table AND banded-signature table
  * ([[operators.Dedup.bandedSignatures]], the production signature
  * store) — is built OUTSIDE the timed region: it is what a nightly
  * pipeline amortizes over every append (reported separately as
  * base=). The timed incr region is the true append shape
  * ([[operators.Dedup.minHashIncrementalFromBands]]): increment
  * signatures + band join against the STORE + exact verify reading
  * only candidate old docs + new×new pairs + updateClusters — no
  * corpus re-hash anywhere, so the cost tracks the increment and its
  * candidates, never the corpus.
  *
  * Usage: Test/runMain graft.IncrSoak <dir> <den...>
  *   e.g. IncrSoak /tmp/graft_sf1 16 8 4   (increments of 1/16, 1/8, 1/4)
  * or `IncrSoak <dir> nights` — the cluster CYCLE ladder: two
  * successive nightly rolls on the 3-night split (id%4 ∈ {0,1} base,
  * ==2, ==3), each from the previous night's OUTPUT artifact; per-night
  * cost tracks the increment, roll∘roll == the full rebuild.
  */
object IncrSoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IncrSoak <dir> <den...>")
    val dir = args(0)
    // "nights" selects the cycle ladder below instead of the den sweep
    val nightsMode = args.lift(1).contains("nights")
    val dens = if (nightsMode) Seq.empty[Int]
      else args.drop(1).map(_.toInt).toSeq
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
    def clusterAll() = {
      val pairs = Dedup.minHashPairsHashed(docs, "doc_id", sh,
        threshold = 0.7, k = 126, bands = 21)
      val r = Dedup.resolveClusters(pairs, "id_a", "id_b")
      r.write.format("noop").mode("overwrite").save()
      r
    }
    // nights mode: the CYCLE ladder — two successive nightly rolls
    // (night 1 = id%4==2 against the night-0 base, night 2 = id%4==3
    // against night 1's OUTPUT artifact), each timed as the true append
    // shape (roll from the stored dir, write the next dir). The claim
    // under test: per-night cost is FLAT across nights (each night pays
    // its increment + candidates, never the depth of the history), and
    // roll∘roll stays row-identical to the full rebuild.
    if (nightsMode) {
      clusterAll()
      val (full, tFull) = time(clusterAll())
      // the SAME night slices the registered cycle queries use
      def slice(n: Int) =
        graft.queries.PipelineQueries.nightSlice(docs, "doc_id", n)
      // warm the INCREMENTAL shapes too (build + roll on 1/64 slices):
      // without this, night 1 pays all the FromBands/updateClusters/
      // parquet-write codegen and the flat-nights comparison is biased
      locally {
        val w = java.nio.file.Files.createTempDirectory("nightsoak-w").toString
        Dedup.buildClusterArtifact(docs.filter(col("doc_id") % 64 === 0),
          "doc_id", sh, w + "/b", threshold = 0.7, k = 126, bands = 21)
        Dedup.rollClusterArtifact(w + "/b",
          docs.filter(col("doc_id") % 64 === 0),
          docs.filter(col("doc_id") % 64 === 1),
          "doc_id", sh, w + "/r", threshold = 0.7, k = 126, bands = 21)
        spark.catalog.clearCache()
      }
      // night-0 artifact: timed separately (base= — the amortized build
      // every later append reads), OUTSIDE the per-night ladder
      val d0 = java.nio.file.Files.createTempDirectory("nightsoak-0").toString
      val (_, tBase) = time(Dedup.buildClusterArtifact(slice(0),
        "doc_id", sh, d0, threshold = 0.7, k = 126, bands = 21))
      val d1 = java.nio.file.Files.createTempDirectory("nightsoak-1").toString
      val (_, t1) = time(Dedup.rollClusterArtifact(d0, slice(0), slice(1),
        "doc_id", sh, d1, threshold = 0.7, k = 126, bands = 21))
      val d2 = java.nio.file.Files.createTempDirectory("nightsoak-2").toString
      val (_, t2) = time(Dedup.rollClusterArtifact(d1,
        docs.filter(col("doc_id") % 4 =!= 3), slice(2),
        "doc_id", sh, d2, threshold = 0.7, k = 126, bands = 21))
      val night2 = spark.read.parquet(d2 + "/clusters")
      val diff = night2.except(full).count() + full.except(night2).count()
      require(diff == 0, s"nights: roll-of-roll != full recompute ($diff rows)")
      println(f"[incrsoak] nights corpus=${docs.count()}%d docs  " +
        f"base=${tBase}%7.2f s  night1=${t1}%7.2f s  night2=${t2}%7.2f s  " +
        f"full=${tFull}%7.2f s  (row-identical; equal increments => flat nights)")
      spark.stop()
      return
    }

    // warmup (codegen + JVM): the full-rebuild shapes AND the
    // incremental shapes — without the latter, the first den's incr
    // reading pays all of the FromBands/updateClusters codegen
    clusterAll()
    val (full, tFull) = time(clusterAll())
    val nDocs = docs.count()
    locally {
      val den = dens.head
      val base = docs.filter(col("doc_id") % den =!= (den - 1))
      val incr = docs.filter(col("doc_id") % den === (den - 1))
      val warmBands = Dedup.bandedSignatures(base, "doc_id", sh, 126, 21)
      val warmPairs = Dedup.minHashIncrementalFromBands(incr, base, "doc_id",
          sh, warmBands, threshold = 0.7, k = 126, bands = 21)
        .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      Dedup.updateClusters(
          Dedup.resolveClusters(warmPairs, "id_a", "id_b"), warmPairs)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    println(f"[incrsoak] corpus=$nDocs%d docs  full rebuild=${tFull}%7.2f s")

    dens.foreach { den =>
      val base = docs.filter(col("doc_id") % den =!= (den - 1))
      val incr = docs.filter(col("doc_id") % den === (den - 1))
      val nIncr = incr.count()
      val baseDir = java.nio.file.Files
        .createTempDirectory(s"incrsoak-base-$den").toString
      val (_, tBase) = time {
        val basePairs = Dedup.minHashPairsHashed(base, "doc_id", sh,
          threshold = 0.7, k = 126, bands = 21)
        Dedup.resolveClusters(basePairs, "id_a", "id_b")
          .write.mode("overwrite").parquet(baseDir + "/clusters")
        Dedup.bandedSignatures(base, "doc_id", sh, k = 126, bands = 21)
          .write.mode("overwrite").parquet(baseDir + "/bands")
      }
      val existing = spark.read.parquet(baseDir + "/clusters")
      val newPairs = Dedup.minHashIncrementalFromBands(incr, base,
          "doc_id", sh, spark.read.parquet(baseDir + "/bands"),
          threshold = 0.7, k = 126, bands = 21)
        .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
        .unionAll(Dedup.minHashPairsHashed(incr, "doc_id", sh,
            threshold = 0.7, k = 126, bands = 21)
          .select(col("id_a"), col("id_b")))
      // updateClusters is EAGER (the CC fixpoint loop runs actions at
      // construction) — the timer must wrap construction AND the write
      val (merged, tIncr) = time {
        val m = Dedup.updateClusters(existing, newPairs)
        m.write.format("noop").mode("overwrite").save()
        m
      }
      val diff = merged.except(full).count() + full.except(merged).count()
      require(diff == 0, s"den=$den: incremental != full recompute ($diff rows)")
      // touch rate: the fraction of the stored table whose component has
      // a new edge — the term incremental cost actually scales with (a
      // replica whose near-dup cliques span copies touches ~half the
      // table even for a small increment; see BASELINE.md)
      val endpoints = newPairs.select(col("id_a").as("v"))
        .union(newPairs.select(col("id_b").as("v"))).distinct()
      val touchedReps = existing.join(endpoints, Seq("v"))
        .select("cluster_rep").distinct()
      val touched = existing.join(touchedReps, Seq("cluster_rep")).count()
      val baseRows = existing.count()
      println(f"[incrsoak] den=$den%-3d incr_docs=$nIncr%-7d base=${tBase}%7.2f s  " +
        f"incr=${tIncr}%7.2f s  full=${tFull}%7.2f s  " +
        f"touched=$touched%d/$baseRows%d stored rows  (row-identical)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
