package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Input/state/output rows for [[GapSessionProcessor]]. Top-level so Catalyst
  * codegen can instantiate them from generated deserializers.
  */
case class SessionEvent(user_id: Long, ts: Timestamp)
case class OpenSession(start_us: Long, last_us: Long, n: Long)
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Gap-based sessionization on the Spark 4 arbitrary-state API
  * (`transformWithState`): one `ValueState[OpenSession]` per user plus one
  * event-time timer at `last_ms + gapMs`. Sessions closed by an in-batch gap
  * emit immediately; the trailing open session emits when the watermark
  * passes its gap timer — so output is incremental (Append), not a
  * whole-result recomputation like the `session_window` aggregate form.
  *
  * State lives in the RocksDB state store (required by this operator), which
  * is what bounds memory at scale: state is keyed and partitioned by
  * `user_id`, so a 1000-executor cluster shards it horizontally.
  */
class GapSessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, SessionEvent, ClosedSession] {

  private val gapUs = gapMs * 1000L

  @transient private var open: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState("open_session",
      Encoders.product[OpenSession], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
      timers: TimerValues): Iterator[ClosedSession] = {
    // All state and comparisons are exact epoch-MICROS: events.ts is
    // µs-precision, and the batch twin (Sessionize.aggByGap) splits on the
    // full µs gap — ms truncation here would merge sessions the batch
    // operator splits and truncate start/end away from the oracle's
    // min(ts)/max(ts).
    val sorted = rows.map(e => Micros.of(e.ts)).toArray.sorted
    var out = List.empty[ClosedSession]
    var cur = if (open.exists()) Option(open.get()) else None
    for (t <- sorted) cur match {
      case Some(s) if t - s.last_us <= gapUs =>
        cur = Some(OpenSession(s.start_us, math.max(s.last_us, t), s.n + 1))
      case Some(s) =>
        out ::= ClosedSession(user, s.start_us, s.last_us + gapUs, s.n)
        cur = Some(OpenSession(t, t, 1))
      case None =>
        cur = Some(OpenSession(t, t, 1))
    }
    cur.foreach { s =>
      open.update(s)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      // Spark timers are ms-based; round the µs deadline UP so the timer
      // never fires before the true gap expiry.
      getHandle.registerTimer(Micros.ceilMillis(s.last_us + gapUs))
    }
    out.reverseIterator
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
    if (open.exists()) {
      val s = open.get()
      if (expired.getExpiryTimeInMs >= Micros.ceilMillis(s.last_us + gapUs)) {
        open.clear()
        return Iterator.single(ClosedSession(user, s.start_us, s.last_us + gapUs, s.n))
      }
    }
    Iterator.empty
  }
}

/** Structured-Streaming forms of the event-time operators. The reference is
  * batch-only (a REPL'd compiler, /root/reference/src/main.rs:31-59);
  * streaming is north-star surface, realized with Spark's native event-time
  * machinery: watermarks bound state, session windows aggregate.
  *
  * Every function takes a streaming *or* batch DataFrame — the plans are
  * identical modulo the sink, which is how the batch oracle queries
  * (q_session_window, q_events_session) validate the same semantics the
  * streaming jobs run in production.
  */
object StreamingSessions {

  /** Per-user session windows (gap-merge), streaming-safe. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"),
        col("n_events"))

  /** Incremental gap sessionization via `transformWithState` (Spark 4
    * arbitrary state + event-time timers). Same semantics as
    * [[sessionCounts]] but emits each session exactly once, when it closes.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def sessionizeTws(events: DataFrame, tsCol: String, userCol: String,
      watermark: String, gapMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long").as("user_id"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapMs),
        TimeMode.EventTime, OutputMode.Append)
      .toDF()
  }

  /** Drain a bounded stream through [[GapSessionProcessor]] and return the
    * COMPLETE session log: sessions closed in-stream (gap exceeded, or gap
    * timer fired as the watermark advanced) come from the drain; the trailing
    * still-open sessions come from the checkpointed state store via Spark's
    * state data source — the production pattern for "sessions so far"
    * reporting over a live pipeline (closed log + open-session snapshot),
    * and what makes the stream result row-for-row comparable with a batch
    * sessionization of the same data.
    *
    * Output: (user_id, start_us, last_us, n_events) — last_us is the last
    * EVENT time (max ts), not the gap-extended close time, so the frame
    * aligns with the batch operator's min(ts)/max(ts) bounds.
    *
    * Oracle parity assumes a single data micro-batch (same contract as
    * q_stream_anomaly): the processor orders rows by ts only WITHIN a batch,
    * so a multi-batch drain would sessionize per-key arrival order.
    * [[StateScope.drain]] asserts it: fails loudly instead of silently
    * diverging. The open sessions are read from `ckptDir` lazily, so the
    * caller keeps it until the log has been read.
    */
  def drainSessionLog(events: DataFrame, tsCol: String, userCol: String,
      gapMs: Long, ckptDir: String): DataFrame = {
    val spark = events.sparkSession
    val closed = StateScope.drain(spark, Some(ckptDir))(
        sessionizeTws(events, tsCol, userCol, "0 seconds", gapMs))
      .select(col("user_id"), col("start_us"),
        (col("end_us") - lit(gapMs * 1000L)).as("last_us"),
        col("n_events"))
    val open = spark.read.format("statestore")
      .option("path", ckptDir)
      .option("stateVarName", "open_session")
      .load()
      .select(col("key.value").as("user_id"), col("value.start_us"),
        col("value.last_us"), col("value.n").as("n_events"))
    closed.unionByName(open)
  }

  /** Stream-stream interval join: right-side events on the same key within
    * `[l_ts, l_ts + within]` (attribution joins: impressions x clicks).
    * Watermarks on BOTH inputs plus the interval condition let Spark expire
    * join state — without them a stream-stream join buffers forever.
    * `carryLeft`/`carryRight` columns ride along as `l_<name>`/`r_<name>`
    * (attribution needs the event ids, not just the timestamps).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, watermark: String, within: String,
      carryLeft: Seq[String] = Nil, carryRight: Seq[String] = Nil): DataFrame = {
    val l = left.select(col(keyCol).as("k") +: col(tsCol).as("l_ts") +:
        carryLeft.map(c => col(c).as(s"l_$c")): _*)
      .withWatermark("l_ts", watermark)
    val r = right.select(col(keyCol).as("rk") +: col(tsCol).as("r_ts") +:
        carryRight.map(c => col(c).as(s"r_$c")): _*)
      .withWatermark("r_ts", watermark)
    l.join(r, expr(s"k = rk AND r_ts >= l_ts AND r_ts <= l_ts + interval $within"))
      .select(col("k") +: col("l_ts") +: col("r_ts") +:
        (carryLeft.map(c => col(s"l_$c")) ++ carryRight.map(c => col(s"r_$c"))): _*)
  }
}
