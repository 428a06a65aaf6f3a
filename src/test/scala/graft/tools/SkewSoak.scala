package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Adversarial-skew soak runner over a [[SkewGen]] replica. Three
  * experiments, each reporting wall seconds plus the STRAGGLER RATIO —
  * max/median successful-task duration within the dominant stage (the
  * stage with the largest total task time), from a SparkListener. A flat
  * shuffle shows ratios near 1-3 (scheduling jitter); a pinned reducer
  * shows the hot key's share multiplied out.
  *
  *  1. SkewStats validation: keyProfile/summary on the three injected
  *     hot keys — hot_salt is the predicted flattening salt factor.
  *  2. Salt sweep: lineitem⋈orders on the hot orderkey (AQE and
  *     broadcast off, so the raw shuffle join shows its tail) at salt
  *     factors {1, hot_salt/2, hot_salt, 2·hot_salt} — the tail should
  *     flatten AT hot_salt and stay flat past it (the knee validates
  *     the prediction). Then the same plain join with AQE skew handling
  *     on (thresholds scaled to this data size) — the runtime remedy —
  *     asserting the final plan actually took the skew path.
  *  3. Scoreboard queries on the skewed data, straggler ratios attached:
  *     the joins, grouped top-k, both anomaly monitors (global window vs
  *     chunked), and the LSH dedup chain uncapped vs maxBucket-capped.
  *
  * Dev tool, not library surface. Usage: Test/runMain graft.SkewSoak [dir]
  */
object SkewSoak {

  private final class TaskStats extends SparkListener {
    val tasks = new ArrayBuffer[(Int, Long)] // (stageId, duration ms)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null && t.taskInfo.successful)
        tasks += ((t.stageId, t.taskInfo.duration))
    }
    def reset(): Unit = synchronized { tasks.clear() }
    /** (straggler ratio, n tasks, max ms, median ms) for the straggler
      * stage: among stages with >= 4 tasks and a longest task >= 100 ms
      * (below either, there is no tail worth measuring), the stage whose
      * max/median ratio is largest — the one a pinned reducer shows up
      * in; falls back to the stage with the largest total task time.
      */
    def straggler(): (Double, Int, Long, Long) = synchronized {
      if (tasks.isEmpty) return (0.0, 0, 0L, 0L)
      def stat(ds: collection.Seq[(Int, Long)]) = {
        val durs = ds.map(_._2).sorted
        val med = durs(durs.size / 2).max(1L)
        (durs.last.toDouble / med, durs.size, durs.last, med)
      }
      val byStage = tasks.groupBy(_._1).values
      val eligible = byStage.filter(s => s.size >= 4 && s.map(_._2).max >= 100L)
      if (eligible.nonEmpty) stat(eligible.maxBy(s => stat(s)._1))
      else stat(byStage.maxBy(_.map(_._2).sum))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_skew1"
    val phase = if (args.length > 1) args(1) else "all" // sweep | board | all
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus)
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)

    // two runs, keep the run with the smaller wall time (the same
    // minimum-estimator discipline as Bench: shared-sandbox contention
    // inflates one run far more often than both)
    def timed(label: String)(df: => DataFrame): Double = {
      def once(): (Double, (Double, Int, Long, Long)) = {
        stats.reset()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (sec, stats.straggler())
      }
      val (sec, (ratio, n, mx, med)) = Seq(once(), once()).minBy(_._1)
      println(f"[skewsoak] $label%-34s ${sec}%7.2f s  straggler ${ratio}%6.1fx" +
        f"  (straggler stage: $n%3d tasks, max ${mx}%6d ms, med ${med}%5d ms)")
      sec
    }

    // ---- 1. SkewStats on the injected pathologies --------------------
    import graft.operators.SkewStats
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    Seq(("lineitem.l_orderkey", li, "l_orderkey"),
        ("orders.o_custkey", ord, "o_custkey"),
        ("events.event_type", ev, "event_type")).foreach { case (lbl, df, k) =>
      val s = SkewStats.summary(df, k, partitions = cpus.toInt).collect()(0)
      println(s"[skewsoak] $lbl: n_rows=${s.getLong(0)} n_keys=${s.getLong(1)} " +
        s"max_cnt=${s.getLong(2)} hot_salt=${s.getLong(3)}")
      SkewStats.keyProfile(df, k, 3).collect().foreach(r =>
        println(s"[skewsoak]   hot key ${r.get(0)}: cnt=${r.getLong(1)} " +
          s"share_ppm=${r.getLong(2)}"))
    }
    val hotSalt = SkewStats.summary(li, "l_orderkey", cpus.toInt)
      .collect()(0).getLong(3).toInt

    // ---- 2. salt sweep on the raw shuffle join -----------------------
    if (phase != "board") {
    val big = li.select("l_orderkey", "l_quantity")
    val small = ord.select(col("o_orderkey").as("l_orderkey"),
      col("o_totalprice"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // warmup: first shuffle pays codegen + shuffle-service init
    big.join(small, "l_orderkey").write.format("noop").mode("overwrite").save()
    timed("join salt=1 (plain)")(big.join(small, "l_orderkey"))
    Seq(hotSalt / 2, hotSalt, 2 * hotSalt).filter(_ >= 2).distinct.foreach(f =>
      timed(s"join salt=$f${if (f == hotSalt) " (hot_salt)" else ""}")(
        graft.operators.SkewJoin.saltedJoin(big, small, "l_orderkey", f)))

    // Aggregation face: exact distinct user_ids per event_type with one
    // type owning 92% of rows. Measured finding (round 11): Spark plans
    // BOTH shapes skew-safely for a single distinct aggregate — the
    // first exchange is on (type, user), which the user component
    // distributes — so naive and two-stage run at parity (the SkewAgg
    // Scaladoc records what the explicit form still buys).
    timed("cntDistinct+sum naive (Expand)")(
      ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n"),
        sum("value").as("s")))
    timed("cntDistinct+sum two-stage")(
      graft.operators.SkewAgg.exactDistinct(ev, Seq("event_type"),
          col("user_id"))
        .join(ev.groupBy("event_type").agg(sum("value").as("s")),
          "event_type"))

    // AQE's runtime remedy on the same plain join: thresholds scaled to
    // this replica (the hot shuffle partition is ~10 MB compressed, far
    // under the 256 MB default that targets real executors)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // NB thresholds are on COMPRESSED shuffle bytes, and the hot
    // partition is 1.2M copies of ONE key — lz4 collapses it ~10x, so
    // the byte thresholds must sit far below the row-count intuition
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val aqeJoin = big.join(small, "l_orderkey")
    timed("join AQE skew-split")(aqeJoin)
    // inspect the SAME QueryExecution that ran: .write spawns its own QE,
    // so drive this dataset's QE to completion and read its final plan
    aqeJoin.queryExecution.toRdd.foreach(_ => ())
    val finalPlan = aqeJoin.queryExecution.executedPlan.toString
    println(s"[skewsoak] AQE skew path engaged: " +
      s"${finalPlan.contains("skew=true") || finalPlan.contains("skewed")}")
    finalPlan.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("AQEShuffleRead"))
      .foreach(l => println(s"[skewsoak]   ${l.trim.take(120)}"))
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }

    // ---- 3. scoreboard queries on the skewed replica (AQE on) --------
    // includes the streaming monitors: a 92%-hot key through
    // transformWithState means one state-store partition receives ~all
    // rows per micro-batch — the streaming face of the same pathology
    if (phase != "sweep") {
    Seq("q_join_inner", "q_skew_join", "q_topk_grouped",
        "q_events_anomaly", "q_events_anomaly_chunked",
        "q_dedup_minhash", "q_dedup_clusters",
        "q_stream_anomaly", "q_stream_session").foreach(n =>
      timed(n)(SparkEntry.queries(n)(spark, dir)))

    // the hot-LSH-bucket guard: same chain as q_dedup_minhash with band
    // buckets capped — drops the 1000-doc boilerplate bucket instead of
    // paying its B² candidate products
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    timed("dedup_minhash maxBucket=64")(
      Dedup.minHashPairsHashed(docs, "doc_id",
        Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126,
        bands = 21, maxBucket = 64).orderBy("id_a", "id_b"))
    }

    // ---- 4. banded near-dup joins under the planted hot band ---------
    // (VERDICT r20 item 5) the boilerplate docs share ONE signature, so
    // every band of the ~1000 planted copies lands in one (band, bits)
    // bucket — the degenerate bucket that pins one task of the candidate
    // join. Board runs first (whatever plan AQE picks — locally the band
    // join broadcasts and the probe side's id partitioning spreads the
    // hot band across tasks); then the forced-SMJ face: at cluster scale
    // the banded self-join cannot broadcast, so broadcast is disabled
    // and the AQE skew-join thresholds scaled to this replica's
    // compressed shuffle sizes — the runtime remedy under test, with the
    // engagement asserted from the executed plan.
    if (phase != "sweep") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    timed("q_dedup_simhash (board)")(
      SparkEntry.queries("q_dedup_simhash")(spark, dir))
    timed("q_phash_neardup (board)")(
      SparkEntry.queries("q_phash_neardup")(spark, dir))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    def simPairs() = Dedup.simHashPairs(docs, "doc_id",
      graft.functions.hashed_words(col("text")), maxHamming = 3)
    timed("simHashPairs forced-SMJ+AQEskew")(simPairs())
    val qe = simPairs().queryExecution
    qe.toRdd.foreach(_ => ())
    val fp = qe.executedPlan.toString
    println(s"[skewsoak] simhash forced-SMJ skew path engaged: " +
      s"${fp.contains("skew=true") || fp.contains("skewed")}")
    fp.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("AQEShuffleRead"))
      .foreach(l => println(s"[skewsoak]   ${l.trim.take(120)}"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    }

    spark.stop()
  }
}
