package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingSessions

/** Top-level so Catalyst can instantiate it from generated deserializers
  * (inner classes need an outer scope the encoder can't capture). */
case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("session windows over a memory stream merge within the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingSessions.sessionCounts(
      mem.toDF(), "ts", "1 hour", "10 minutes")
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("sessions_out").start()
    try {
      mem.addData(
        Ev(ts(0), 1, "a", 1.0), Ev(ts(5), 1, "a", 1.0),   // merge
        Ev(ts(30), 1, "a", 1.0),                           // new session
        Ev(ts(0), 2, "b", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .orderBy("user_id", "w_start").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
    } finally q.stop()
  }

  test("windowed counts with watermark aggregate by tumbling window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingSpec.windowedCounts(mem.toDF(), "ts", "1 hour", "10 minutes")
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("windows_out").start()
    try {
      mem.addData(
        Ev(ts(1), 1, "click", 2.5), Ev(ts(2), 2, "click", 1.5),
        Ev(ts(11), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("windows_out").orderBy("w_start", "event_type")
        .collect().map(r => (r.getString(2), r.getLong(3), r.getLong(4)))
      assert(rows.toSeq == Seq(("click", 2L, 400L), ("view", 1L, 100L)))
    } finally q.stop()
  }

  test("custom state via flatMapGroupsWithState: running count per user") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val counted = mem.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) => {
          val prev = state.getOption.getOrElse(0L)
          val now = prev + evs.size
          state.update(now)
          Iterator((user, now))
        })
      .toDF("user_id", "running_n")
    val q = counted.writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    try {
      mem.addData(Ev(ts(0), 1, "a", 1.0), Ev(ts(1), 1, "a", 1.0), Ev(ts(2), 2, "b", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 1, "a", 1.0))
      q.processAllAvailable()
      val byBatch = spark.table("state_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 1: user1 -> 2, user2 -> 1; batch 2 resumes state: user1 -> 3
      assert(byBatch == Set((1L, 2L), (2L, 1L), (1L, 3L)))
    } finally q.stop()
  }

  test("file-sink streaming with checkpoint: exactly-once across restarts") {
    import org.apache.spark.sql.types._
    val inDir = java.nio.file.Files.createTempDirectory("graft-sin").toFile.getAbsolutePath
    val outDir = java.nio.file.Files.createTempDirectory("graft-sout").toFile.getAbsolutePath + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$inDir/events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = StructType(Tables.t(spark, sf, "events").schema.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))
    def startQuery() = {
      val in = spark.readStream.schema(rawSchema).parquet(inDir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      StreamingSpec
        .dedupWithinWatermark(in, "ts", "1 hour", Seq("event_id"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == 1000, s"expected all 1000 events, got $n1")
    // restart from the checkpoint: same input files already committed ->
    // nothing reprocessed (exactly-once file tracking)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == n1)
  }

  test("transformWithState sessionizer emits each session once, on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val out = graft.streaming.StreamingSessions.sessionizeTws(
      mem.toDF(), "ts", "user_id", "0 seconds", gapMs = 10 * 60 * 1000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("tws_out").start()
    try {
      // batch 1: two sessions open (user1 merges 10:00+10:05, user2 at 10:00)
      mem.addData(Ev(ts(0), 1, "a", 1.0), Ev(ts(5), 1, "a", 1.0), Ev(ts(0), 2, "b", 1.0))
      q.processAllAvailable()
      // batch 2: user1 at 10:30 gaps out the first session -> inline emit;
      // watermark then advances to 10:30, firing user2's 10:10 timer
      mem.addData(Ev(ts(30), 1, "a", 1.0))
      q.processAllAvailable()
      // batch 3: dummy event pushes the watermark past user1's 10:40 timer
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 11:00:00"), 99, "z", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(Timestamp.valueOf("2024-01-01 11:30:00"), 99, "z", 1.0))
      q.processAllAvailable()
      val got = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // session bounds are exact epoch-MICROS (events.ts is µs-precision)
      def us(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00").getTime * 1000L
      assert(got.contains((1L, us("10:00"), us("10:15"), 2L)), s"user1 s1 missing: $got")
      assert(got.contains((2L, us("10:00"), us("10:10"), 1L)), s"user2 missing: $got")
      assert(got.contains((1L, us("10:30"), us("10:40"), 1L)), s"user1 s2 missing: $got")
      assert(!got.exists(_._1 == 99L && got.size > 4), s"unexpected rows: $got")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming content dedup: fingerprint64 expression in a streaming plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // dedup on CONTENT (custom codegen'd fingerprint of the payload),
    // not on an id column — retries with identical bodies collapse
    val keyed = mem.toDF().withColumn("fp",
      graft.functions.fingerprint64(concat_ws("|", col("user_id"), col("event_type"), col("value"))))
    val out = StreamingSpec.dedupWithinWatermark(
      keyed, "ts", "1 hour", Seq("fp"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("fpdedup_out").start()
    try {
      mem.addData(
        Ev(ts(0), 1, "click", 1.0), Ev(ts(1), 1, "click", 1.0), // same content
        Ev(ts(2), 1, "click", 2.0))                              // different value
      q.processAllAvailable()
      assert(spark.table("fpdedup_out").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val out = graft.streaming.StreamingSessions.intervalJoin(
      imps.toDF(), clicks.toDF(), "user_id", "ts", "1 hour", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      imps.addData(Ev(ts(0), 1, "imp", 1.0), Ev(ts(0), 2, "imp", 1.0))
      clicks.addData(
        Ev(ts(5), 1, "click", 1.0),   // in window  -> match
        Ev(ts(40), 1, "click", 1.0),  // past window -> no match
        Ev(ts(5), 3, "click", 1.0))   // no impression -> no match
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got == Set((1L, ts(0), ts(5))), s"unexpected join output: $got")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups retried events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingSpec.dedupWithinWatermark(
      mem.toDF().withColumn("event_key", concat(col("user_id"), lit("-"), col("event_type"))),
      "ts", "1 hour", Seq("event_key"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        Ev(ts(0), 1, "click", 1.0), Ev(ts(1), 1, "click", 1.0), // dup key
        Ev(ts(2), 2, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("stream-static joins: dimension enrichment + blocklist anti-join") {
    // the streaming-ingestion scrub shape: each micro-batch inner-joins a
    // static dimension (enrichment) and anti-joins a static blocklist —
    // both static sides broadcast, stream state stays empty (no watermark
    // needed; stream-static joins are stateless per batch)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "basic"), (3L, "gold"))
      .toDF("user_id", "tier")
    val blocklist = Seq(2L).toDF("user_id")
    val out = mem.toDF()
      .join(broadcast(dim), Seq("user_id"))             // enrich
      .join(broadcast(blocklist), Seq("user_id"), "left_anti") // scrub
      .select("user_id", "event_type", "tier")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("streamstatic_out").start()
    try {
      mem.addData(
        Ev(ts(0), 1, "click", 1.0),
        Ev(ts(1), 2, "click", 1.0),   // blocklisted
        Ev(ts(2), 3, "view", 1.0),
        Ev(ts(3), 9, "view", 1.0))    // no dimension row -> dropped by enrich
      q.processAllAvailable()
      val rows = spark.table("streamstatic_out").orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(rows.toSeq == Seq((1L, "click", "gold"), (3L, "view", "gold")))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups in-window, expires state past it") {
    // the streaming-ingestion dedup shape: duplicate events (retries,
    // at-least-once sources) are dropped while their key is within the
    // watermark window; state is then expired — bounded memory, unlike
    // plain dropDuplicates whose state grows forever
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_out").start()
    try {
      mem.addData(
        Ev(ts(0), 1, "click", 1.0),
        Ev(ts(1), 1, "click", 2.0),   // duplicate within window -> dropped
        Ev(ts(2), 2, "view", 1.0))
      q.processAllAvailable()
      // advance event time far past the watermark so (1, click) state
      // expires, then replay the same key: it must be emitted again
      mem.addData(Ev(ts(40), 3, "other", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(45), 1, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_wm_out")
        .groupBy("user_id", "event_type").count()
        .orderBy("user_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        (1L, "click", 2L),  // once per watermark window, not three times
        (2L, "view", 1L), (3L, "other", 1L)))
    } finally q.stop()
  }
}

object StreamingSpec {
  import org.apache.spark.sql.DataFrame

  /** Tumbling/sliding window counts with a watermark bounding state. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      window_ : String, slide: Option[String] = None): DataFrame = {
    val win = slide match {
      case Some(sl) => window(col(tsCol), window_, sl)
      case None     => window(col(tsCol), window_)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("value_cents"))
  }

  /** Event dedup within the watermark horizon, the streaming analog of
    * Dedup.exact for at-least-once upstreams.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermark: String, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)
}
