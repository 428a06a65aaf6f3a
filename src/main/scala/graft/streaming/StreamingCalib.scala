package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Rows for [[CalibProcessor]] — top-level for Catalyst codegen. */
case class CalibRow(k: String, v: Long)

/** Minimal keyed counter — just enough state machinery to force the full
  * transformWithState startup path (state encoder resolution, RocksDB
  * store provider init, commit log, offset log).
  */
class CalibProcessor extends StatefulProcessor[String, CalibRow, CalibRow] {
  @transient private var sum: ValueState[CalibRow] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sum = getHandle.getValueState("s", Encoders.product[CalibRow], TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[CalibRow],
      timers: TimerValues): Iterator[CalibRow] = {
    val prev = if (sum.exists()) sum.get().v else 0L
    val n = prev + rows.map(_.v).sum
    sum.update(CalibRow(key, n))
    Iterator.single(CalibRow(key, n))
  }
}

/** Fixed-work streaming-engine startup probe — the streaming analogue of
  * Bench's xxhash64 `calib_sec`: one MemoryStream micro-batch (64 rows,
  * 8 keys, no testdata) through a keyed `transformWithState` counter on
  * the RocksDB state store into the noop sink, timed start-to-stop. The
  * data is negligible by construction, so the reading IS the fixed cost
  * every scoreboard drain (q_stream_*) pays before touching data on this
  * machine right now: streaming query planning, checkpoint/offset/commit
  * log setup, RocksDB provider + store init, state encoder resolution.
  * Emitted as `streaming_calib_sec` in the bench JSON; the normalization
  * rule lives in BASELINE.md ("Streaming noise calibration").
  */
object StreamingCalib {

  // Runs under the same StateScope sizing as the scoreboard drains (4
  // state partitions), so the probe's store-init share matches what a
  // drain actually pays — the reading is the drains' startup floor, not
  // the session-CPU-count store cost.
  def drainOnce(spark: SparkSession): Double =
    StateScope.withStateConf(spark) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[CalibRow]
      mem.addData((1 to 64).map(i => CalibRow(s"k${i % 8}", i.toLong)): _*)
      val t0 = System.nanoTime()
      val q = mem.toDS()
        .groupByKey(_.k)
        .transformWithState(new CalibProcessor, TimeMode.None, OutputMode.Append)
        .writeStream.outputMode("append").format("noop").start()
      q.processAllAvailable()
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }
}
