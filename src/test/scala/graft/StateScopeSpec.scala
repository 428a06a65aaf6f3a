package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.streaming.StateScope

/** StateScope — the scoping contract the scoreboard drains rely on: the
  * RocksDB provider and the state-partition count hold exactly for the
  * body's duration, and the session's previous values come back whether
  * the body returns or throws (a drain failure must not leak a 4-way
  * shuffle default into the rest of a 32-core batch session). `drain`
  * returns a one-batch stream's rows, fails on more than one data batch,
  * and resumes state from a kept checkpoint.
  */
class StateScopeSpec extends SparkTestBase {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val shuffleKey = "spark.sql.shuffle.partitions"

  test("body sees RocksDB provider + pinned partitions; both restored after") {
    val prevShuffle = spark.conf.get(shuffleKey)
    val prevProvider = spark.conf.getOption(providerKey)
    val seen = StateScope.withStateConf(spark, statePartitions = 5) {
      (spark.conf.get(providerKey), spark.conf.get(shuffleKey))
    }
    assert(seen == (StateScope.RocksDb, "5"))
    assert(spark.conf.get(shuffleKey) == prevShuffle)
    assert(spark.conf.getOption(providerKey) == prevProvider)
  }

  test("restores on exception too, and propagates it") {
    val prevShuffle = spark.conf.get(shuffleKey)
    val boom = intercept[IllegalStateException] {
      StateScope.withStateConf(spark) { throw new IllegalStateException("drain failed") }
    }
    assert(boom.getMessage == "drain failed")
    assert(spark.conf.get(shuffleKey) == prevShuffle)
  }

  test("a previously-set provider value is restored, not unset") {
    spark.conf.set(providerKey, "com.example.SomeProvider")
    try {
      StateScope.withStateConf(spark) {
        assert(spark.conf.get(providerKey) == StateScope.RocksDb)
      }
      assert(spark.conf.get(providerKey) == "com.example.SomeProvider")
    } finally spark.conf.unset(providerKey)
  }

  test("returns the body's value") {
    assert(StateScope.withStateConf(spark)(41 + 1) == 42)
  }

  // ---- drain: the one scoreboard drain verb ----------------------------

  /** A landing dir holding `n` single-row parquet files (the file-stream
    * source's unit of batching under maxFilesPerTrigger).
    */
  private def landingDir(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drain")
      .toFile.getAbsolutePath
    (1 to n).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    dir
  }

  test("drain: a one-batch drain returns all rows as a local relation") {
    val dir = landingDir(3)
    val schema = spark.read.parquet(dir).schema
    // no per-trigger file cap -> AvailableNow takes all files in ONE batch
    val drained = StateScope.drain(spark)(spark.readStream.schema(schema).parquet(dir))
    assert(drained.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(drained.schema == schema)
    assert(drained.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
  }

  test("drain: a multi-batch drain fails loudly, not silently") {
    val dir = landingDir(2)
    val schema = spark.read.parquet(dir).schema
    // 2 files x 1 file/trigger = 2 data micro-batches: the exact shape
    // (files landing incrementally) that would silently break the
    // scoreboard oracles' within-one-batch ordering/emission contracts
    val boom = intercept[IllegalArgumentException] {
      StateScope.drain(spark) {
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      }
    }
    assert(boom.getMessage.contains("saw 2 data micro-batches"),
      s"unexpected failure: ${boom.getMessage}")
  }

  test("drain: a second drain on the same checkpoint resumes its state") {
    import spark.implicits._
    val dir = landingDir(0)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-resume").toString
    try {
      def land(rows: (Long, String)*): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
      land(1L -> "a", 2L -> "b")
      val schema = spark.read.parquet(dir).schema
      def generation() = StateScope.drain(spark, Some(ckpt)) {
        graft.streaming.StreamingDedup.keepFirst(
          spark.readStream.schema(schema).parquet(dir), "doc_id", "text")
      }.collect().map(_.getLong(1)).toSet
      assert(generation() == Set(1L, 2L))
      // "a" again under a new id: first-wins against the resumed state
      // drops it, so only the new content "c" is emitted
      land(3L -> "a", 4L -> "c")
      assert(generation() == Set(4L))
    } finally StateScope.rmTemp(dir, ckpt)
  }

  test("drain: a fresh temp checkpoint is deleted afterwards") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def ckpts() = java.nio.file.Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-drain-ckpt")).toSet
    val dir = landingDir(1)
    val schema = spark.read.parquet(dir).schema
    val before = ckpts()
    assert(StateScope.drain(spark)(spark.readStream.schema(schema).parquet(dir)).count() == 1)
    assert(ckpts() == before)
  }

  test("src/main drains only through StateScope: no memory sink, writeStream in two files") {
    val memorySink = """format\("memory"\)""".r
    val writeStream = """\.writeStream""".r
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    assert(sources.filter { case (_, text) => memorySink.findFirstIn(text).isDefined }.map(_._1).isEmpty)
    assert(sources.filter { case (_, text) => writeStream.findFirstIn(text).isDefined }.map(_._1).sorted ==
      Seq("graft/streaming/StateScope.scala", "graft/streaming/StreamingCalib.scala"))
  }
}
