package graft

import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** Pins the q_stream_session contract: the drained streaming session log
  * (closed sessions from the drain + open sessions from the state-store
  * snapshot) is row-for-row identical — at exact µs precision — to the
  * batch gap sessionization of the same events. Runs on REAL events at
  * sf0.001 (µs timestamps, ~all rows carry sub-ms components), so a
  * regression to ms precision or a lost trailing session fails here before
  * it reaches the driver scoreboard.
  */
class StreamingSessionLogSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("drained session log == batch sessionization, exact micros") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("sessionlog-spec-ckpt").toString
    val log = graft.streaming.StreamingSessions.drainSessionLog(
      Tables.eventsStream(spark, sfDir), "ts", "user_id",
      gapMs = 30L * 60L * 1000L, ckptDir = ckpt)
    val streamed = log.select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("last_us")).as("session_end"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batch = Sessionize.aggByGap(
        Tables.t(spark, sfDir, "events"), "user_id", "ts", "event_id", 1800)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed.nonEmpty, "stream drained zero sessions")
    val missing = batch -- streamed
    val extra = streamed -- batch
    assert(missing.isEmpty && extra.isEmpty,
      s"stream/batch divergence: missing=${missing.take(3)} extra=${extra.take(3)}")
    // trailing open sessions really did come from the state snapshot:
    // at least one user's last session must end within the gap of the
    // global max ts (it could not have been closed by gap or timer)
    val maxUs = Tables.t(spark, sfDir, "events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val openTail = log.filter(col("last_us") > maxUs - 30L * 60L * 1000000L)
    assert(openTail.count() > 0, "expected open trailing sessions in the log")
  }
}
