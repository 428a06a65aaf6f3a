package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Session-conf scope for the streaming scoreboard drains.
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

  /** The scoreboard drain harness every monitor query shares: drain `df`
    * into a named memory sink with Trigger.AvailableNow and assert the
    * drain was exactly ONE data micro-batch. Oracle parity depends on it
    * two ways: monitors re-emit touched keys per batch (a multi-batch
    * drain appends stale generations into the append-mode memory sink),
    * and order-sensitive monitors (the anomaly scorer) order rows only
    * WITHIN a batch. Fail loudly instead of silently diverging.
    */
  def drainSingleBatch(df: DataFrame, sinkName: String): Unit = {
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName(sinkName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches == 1,
      s"$sinkName oracle requires a single-batch drain; saw $dataBatches data micro-batches")
  }

  /** Checkpointed single-batch drain into a caller-owned collector — the
    * multi-generation form of [[drainSingleBatch]]: the memory sink
    * cannot resume a checkpoint, so cross-restart scoreboard queries
    * (e.g. q_stream_dedup_2b's two landing slices) drain through
    * foreachBatch instead and RESUME state from `checkpoint` on the next
    * call. Each generation must still be exactly one DATA micro-batch
    * (same oracle-parity rationale as [[drainSingleBatch]]: one emission
    * generation per drain, within-batch ordering only).
    */
  def drainSingleBatchInto(df: DataFrame, checkpoint: String)(
      collect: DataFrame => Unit): Unit = {
    val q = df.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) => collect(b) }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches == 1,
      s"checkpointed drain requires a single data micro-batch per generation; saw $dataBatches")
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
    * session (`spark.newSession()` — build the stream AND read its
    * memory sink from that session) or accept the pinned conf. The
    * scoreboard harness (Bench/Verify) runs queries sequentially, so the
    * single-drain, no-concurrent-batch precondition holds there by
    * construction; ConcurrencySpec pins the batch-vs-batch case only.
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
    val prev = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
