package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** The streaming scoreboard drains: [[StateScope.drain]] runs every
  * q_stream_* stream and returns its rows as a local relation, under a
  * session-conf scope ([[StateScope.withStateConf]]).
  *
  * Two decisions every stateful drain shares, applied for the duration of
  * the drain and restored after (batch queries keep the session default):
  *
  * 1. RocksDB state store provider — the production store (spill-to-disk,
  *    changelog checkpointing), not the in-memory HDFS-backed default.
  *
  * 2. State partition count pinned EXPLICITLY, decoupled from
  *    `spark.sql.shuffle.partitions`' CPU-count default. Streaming state
  *    partitioning is a STATE-VOLUME sizing decision frozen into the
  *    checkpoint at first start — it cannot be changed on restart without
  *    state rebuild — whereas the session shuffle default is a CPU-count
  *    decision that changes per deployment. Letting the drain inherit the
  *    session value both over-pays store initialization (measured ~30 ms
  *    per store per partition; a stream-stream join materializes FOUR
  *    stores per partition — the entire 7.45 s q_stream_join bench line
  *    was 128 store inits, vs a 0.7 s batch twin) and accidentally pins
  *    checkpoint layout to whatever machine first ran the query. At the
  *    scoreboard's state volumes (KBs per drain) 4 partitions is ample;
  *    at production volumes the same knob goes UP, sized by state bytes
  *    per partition (RocksDB memtable + block cache per store), never by
  *    core count. Sizing bracket measured r21 (14 drains, min-of-3,
  *    same window): 8 → 27.2 s, 4 → 24.9 s, 2 → 25.6 s — 2 re-serializes
  *    the drains with real per-key work (neardedup's band buckets,
  *    the interval join), so 4 is the volume-honest floor here.
  *    Re-measured once the local filesystem stopped forking a process per
  *    checkpoint file op ([[graft.sources.LocalFs]]): traced perfbench
  *    `board_mix` (its drain is `q_stream_anomaly`), seeds 41–43, four
  *    builds alternating in one window, medians:
  *      partitions 4 → state_commit_ms 146, triggerExecution_ms 637;
  *      partitions 2 → 84.5, 698.5; partitions 1 → 24.5, 615.5;
  *      4 + changelog checkpointing → 155.5, 596.
  *    The commit sum scales with the store count, but the drain's wall
  *    time does not move beyond its spread (537–907 ms), and one small
  *    drain cannot outweigh the 14-drain bracket above: 4 stays, and
  *    changelog checkpointing stays off (no commit gain either).
  */
object StateScope {
  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Scoreboard drains' state-partition sizing (see class doc, point 2). */
  val StatePartitions = 4

  /** The one drain every scoreboard query (q_stream_*) runs: builds the
    * stream with `build` inside [[withStateConf]], drains it with
    * Trigger.AvailableNow through foreachBatch, and returns the emitted
    * rows as a local relation on `spark`, under the stream's own schema.
    * Nothing is left behind in the session: no sink view, no active
    * query, no listener bus of the stream's session clone
    * ([[org.apache.spark.sql.graft.StreamCloneBridge]]). The stream
    * starts on the caller's session, so listeners on `spark.streams` see
    * it.
    *
    * With `checkpoint = None` the drain runs on a fresh temp checkpoint
    * and deletes it afterwards. With `Some(dir)` the state stays in `dir`
    * and the next drain on it resumes there (the cross-generation
    * q_stream_*_2b queries), and the caller deletes it.
    *
    * Each drain must be exactly ONE data micro-batch. Oracle parity
    * depends on it two ways: monitors re-emit touched keys per batch (a
    * multi-batch drain would return stale generations too), and
    * order-sensitive monitors (the anomaly scorer) order rows only WITHIN
    * a batch. Fail loudly instead of silently diverging.
    */
  def drain(spark: SparkSession, checkpoint: Option[String] = None)(
      build: => DataFrame): DataFrame = {
    val ckpt = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-drain-ckpt").toString)
    try withStateConf(spark) {
      val df = build
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val got = b.collect()
          rows.synchronized(rows ++= got): Unit
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally org.apache.spark.sql.graft.StreamCloneBridge.detach(q)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"the scoreboard oracles require a single-batch drain; saw $dataBatches data micro-batches")
      spark.createDataFrame(rows.synchronized(rows.toList).asJava, df.schema)
    } finally if (checkpoint.isEmpty) rmTemp(ckpt)
  }

  /** Delete each local directory tree in `dirs`, in this JVM (no `rm`
    * process); a missing or undeletable path is skipped.
    */
  def rmTemp(dirs: String*): Unit = dirs.foreach { d =>
    try {
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p)) {
        val it = java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next()): Unit
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Serializes [[withStateConf]] bodies: two overlapping drains would
    * otherwise restore each other's stale conf values on exit.
    */
  private val confLock = new Object

  /** Pin the drain conf (RocksDB provider + state partitions) for the
    * duration of `body`, restoring the session values after.
    *
    * CONCURRENCY CONTRACT: the conf mutation is session-GLOBAL. Drains
    * against the SAME session serialize on an internal lock (overlapping
    * scopes would restore each other's stale values), but the lock cannot
    * protect unrelated work: a BATCH query planned on this session while
    * a drain holds the scope silently plans with `statePartitions`
    * shuffle partitions and the RocksDB provider conf. Callers that mix
    * concurrent batch and streaming work must give the drain its own
    * session (`spark.newSession()`) or accept the pinned conf. The
    * scoreboard harness (Bench/Verify) runs queries sequentially, so the
    * single-drain, no-concurrent-batch precondition holds there by
    * construction; ConcurrencySpec pins the batch-vs-batch case and the
    * drain-vs-drain turn-taking.
    */
  def withStateConf[A](spark: SparkSession,
      statePartitions: Int = StatePartitions)(body: => A): A = confLock.synchronized {
    // RocksDB store tunings scoped with the provider (r21, guide §1.2
    // step 3 — config only after the operator shape is right, and both
    // are commit-path cost with NO result semantics):
    //  - trackTotalNumberOfRows=false: skips the read-before-write each
    //    put/remove otherwise pays to maintain the numTotalStateRows
    //    metric; the drains assert on input-row counts, never on that
    //    gauge. Production monitors that want the gauge flip it back on.
    //  - changelog checkpointing is deliberately NOT pinned: measured +9 %
    //    on these one-or-two-batch drains and rejected (OPTIMIZATION_r21
    //    §5) — the changelog writer costs more than the tiny-SST snapshot
    //    it replaces at this state volume; re-measured fork-free on
    //    state_commit_ms itself (class doc): 155.5 vs 146 ms. Revisit at
    //    production state sizes, where snapshot uploads dominate the commit.
    val pinned = Seq(
      "spark.sql.streaming.stateStore.providerClass" -> RocksDb,
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")
    // the session's own settings (getAll): a key it never set is unset
    // again after, not set to the default getOption would read back
    val set = spark.conf.getAll
    val prev = pinned.map { case (k, _) => k -> set.get(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
