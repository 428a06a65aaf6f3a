package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger

/** Pins the file-stream source's layout handling in `Tables.eventsStream`:
  * testdata tables arrive either as a single parquet FILE (driver-written)
  * or as a DIRECTORY of part files (Spark-written, e.g. the SoakGen sf1
  * replica). The source does not follow a symlink to a directory — the
  * round-9 sf1 soak caught it silently reading ZERO files that way — so
  * both layouts must drain the full table, asserted here by row count
  * against the batch read.
  */
class StreamingLayoutSpec extends SparkTestBase {

  private def drainCount(dir: String, name: String): Long = {
    val q = Tables.eventsStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).count()
  }

  test("single-file layout: stream drains every batch row") {
    val batch = Tables.t(spark, sf, "events").count()
    assert(batch > 0)
    assert(drainCount(sf, "layout_file_sink") == batch)
  }

  test("directory layout (Spark-written table): stream drains every batch row") {
    val tmp = Files.createTempDirectory("graft-layout-").toString
    Tables.t(spark, sf, "events")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = Tables.t(spark, tmp, "events").count()
    assert(batch > 0)
    assert(drainCount(tmp, "layout_dir_sink") == batch)
  }

  test("tableStream drains a non-events table through both layouts") {
    val batch = Tables.t(spark, sf, "documents").count()
    assert(batch > 0)
    val q1 = Tables.tableStream(spark, sf, "documents")
      .writeStream.outputMode("append")
      .format("memory").queryName("layout_docs_file_sink")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.table("layout_docs_file_sink").count() == batch)
    val tmp = Files.createTempDirectory("graft-layout-docs-").toString
    Tables.t(spark, sf, "documents")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val q2 = Tables.tableStream(spark, tmp, "documents")
      .writeStream.outputMode("append")
      .format("memory").queryName("layout_docs_dir_sink")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("layout_docs_dir_sink").count() == batch)
    // events must go through eventsStream's ts normalization
    intercept[IllegalArgumentException] {
      Tables.tableStream(spark, sf, "events")
    }
  }

  test("session drain holds its oracle contract on a MULTI-FILE directory") {
    // The q_stream_session oracle assumes AvailableNow drains everything
    // in ONE data micro-batch (in-batch ordering is the parity contract);
    // a 4-part directory is the layout most likely to violate that. The
    // drain must either stay single-batch and match the batch
    // sessionization exactly, or fail LOUDLY on its batch-count require —
    // never silently mis-order.
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-layout-multi-").toString
    Tables.t(spark, sf, "events").repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val ckpt = Files.createTempDirectory("graft-layout-multi-ckpt").toString
    val log = graft.streaming.StreamingSessions.drainSessionLog(
      Tables.eventsStream(spark, tmp), "ts", "user_id",
      gapMs = 30L * 60L * 1000L, ckptDir = ckpt)
    val streamed = log.select(col("user_id"), col("start_us"),
        col("last_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.Sessionize.aggByGap(
        Tables.t(spark, tmp, "events"), "user_id", "ts", "event_id", 1800)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"multi-file drain diverged: ${(batch -- streamed).take(3)} / ${(streamed -- batch).take(3)}")
  }
}
