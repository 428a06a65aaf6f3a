package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraftSources

class SourcesSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("csv round-trip preserves rows and values") {
    val df = Tables.t(spark, sf, "nation")
    val path = tmp("csv")
    GraftSources.writeCsv(df, path)
    val back = GraftSources.readCsv(spark, path,
      schema = Some(df.schema))
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("json round-trip preserves rows and values") {
    val df = Tables.t(spark, sf, "region")
    val path = tmp("json")
    GraftSources.writeJson(df, path)
    val back = GraftSources.readJson(spark, path, schema = Some(df.schema))
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      df.orderBy("r_regionkey").collect().toSeq)
  }

  test("partitioned parquet write prunes partitions on read") {
    val df = Tables.t(spark, sf, "customer")
    val path = tmp("pq")
    GraftSources.writeParquet(df, path, partitionBy = Seq("c_mktsegment"))
    val one = GraftSources.readParquet(spark, path)
      .filter(col("c_mktsegment") === "BUILDING")
    // partition pruning: the scan should touch only the BUILDING directory
    val scanned = one.queryExecution.executedPlan.toString
    assert(one.count() ==
      df.filter(col("c_mktsegment") === "BUILDING").count())
    assert(scanned.contains("PartitionFilters: [isnotnull(c_mktsegment"),
      s"no partition filter in:\n$scanned")
  }

  test("orc round-trip preserves rows") {
    val df = Tables.t(spark, sf, "nation")
    val path = tmp("orc")
    GraftSources.writeOrc(df, path)
    val back = GraftSources.readOrc(spark, path)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val orders = Tables.t(spark, sf, "orders")
    val li = Tables.t(spark, sf, "lineitem")
    // a prior JVM's orphaned warehouse dirs block saveAsTable(Overwrite)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    Seq("orders_b", "lineitem_b").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) { import scala.reflect.io.Directory; new Directory(dir).deleteRecursively() }
    }
    GraftSources.writeBucketed(orders, "orders_b", "o_orderkey", 4, Some("o_orderkey"))
    GraftSources.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4, Some("o_orderkey"))
    // bucketed joins shortcut broadcast selection only above the threshold;
    // disable auto-broadcast so the shuffle-avoidance is what's under test
    distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = distributed.table("orders_b")
        .join(distributed.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderstatus").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles on the key:\n$plan")
      assert(joined.count() > 0)
    } finally distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // skewed: key 1 owns 90% of the big side
    val big = ((1 to 900).map(_ => 1L) ++ (1 to 100).map(i => (i % 7 + 2).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val small = (1L to 9L).map(k => (k, s"name$$k")).toDF("k", "name")
    val plain = big.join(small, "k").count()
    val saltedN = graft.operators.SkewJoin.saltedJoin(big, small, "k", saltFactor = 8).count()
    assert(plain == saltedN)
    // and the salt actually spreads the hot key
    val spread = big.withColumn("__salt",
        pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(8)))
      .filter(col("k") === 1).groupBy("__salt").count().count()
    assert(spread > 4, "hot key not spread across salt buckets")
  }

  test("salted join rejects outer types that would duplicate small-side rows") {
    import spark.implicits._
    val big = Seq((1L, 1L)).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(big, small, "k", joinType = "full_outer")
    }
    assert(e.getMessage.contains("inner/left"))
    // left works and keeps unmatched BIG-side rows exactly once
    val big2 = Seq((1L, 1L), (2L, 2L)).toDF("k", "v")
    val left = graft.operators.SkewJoin.saltedJoin(big2, small, "k", joinType = "left")
    assert(left.count() == 2 && left.filter(col("name").isNull).count() == 1)
  }

  test("partitioned write honors layout and maxRecordsPerFile") {
    val docs = Tables.t(spark, sf, "documents")
    val path = tmp("partwrite")
    docs.write.mode("overwrite").partitionBy("lang")
      .option("maxRecordsPerFile", 20).parquet(path)
    val langDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    val langs = docs.select("lang").distinct()
      .collect().map(r => s"lang=${r.getString(0)}").sorted
    assert(langDirs.toSeq == langs.toSeq, s"partition dirs $langDirs != $langs")
    // every file respects the record cap (small-file/large-file control)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("lang="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 20, s"${f.getName} has $n rows > maxRecordsPerFile")
    }
    // round-trip is lossless
    assert(spark.read.parquet(path).count() == docs.count())
  }

  test("range-clustered write: files own disjoint key ranges (skippable)") {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val path = tmp("rangeclust")
    GraftSources.writeRangeClustered(
      Tables.t(spark, sf, "lineitem"), path, "l_orderkey", nFiles = 4)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size == 4, s"expected 4 files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(fmin("l_orderkey"), fmax("l_orderkey")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("DSv2 source: partition planning, filter pushdown prunes partitions") {
    val df = spark.read.format("graftrange")
      .option("rows", "1000").option("parts", "10").load()
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 10)
    // id >= 950 intersects only the last slice -> 1 planned partition
    val tail = df.filter(col("id") >= 950)
    assert(tail.rdd.getNumPartitions == 1, "id-range filter did not prune partitions")
    assert(tail.count() == 50)
    val got = tail.orderBy("id").limit(1).collect()(0)
    assert(got.getLong(0) == 950 && got.getDouble(1) == 475.0 &&
      got.getString(2) == "row-950")
    // residual (non-pushable) filters still evaluate correctly
    assert(df.filter(col("payload") === "row-7").count() == 1)
  }

  test("DSv2 source streams micro-batches until the row budget is spent") {
    val stream = spark.readStream.format("graftrange")
      .option("rows", "250").option("parts", "3").option("rowsPerBatch", "100")
      .load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("graftrange_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graftrange_out")
      assert(got.count() == 250, "stream did not deliver all rows")
      // deterministic content and no duplicates across batches
      assert(got.select("id").distinct().count() == 250)
      val r = got.filter(col("id") === 123).collect()(0)
      assert(r.getDouble(1) == 61.5 && r.getString(2) == "row-123")
    } finally q.stop()
  }

  test("DSv2 source: column pruning reaches the reader") {
    val df = spark.read.format("graftrange")
      .option("rows", "100").option("parts", "2").load()
    val plan = df.select("payload").queryExecution.executedPlan.toString
    assert(plan.contains("payload") && !plan.contains("val#"),
      s"pruned scan still carries unrequested columns:\n$plan")
    assert(df.select("payload").distinct().count() == 100)
  }

  test("schema'd csv read applies declared types") {
    val path = tmp("csv2")
    GraftSources.writeCsv(Tables.t(spark, sf, "supplier"), path)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
    val back = GraftSources.readCsv(spark, path, Some(schema))
    assert(back.schema("s_acctbal").dataType == DoubleType)
    assert(back.count() == 10)
  }

  test("PERMISSIVE json read quarantines malformed records instead of failing") {
    // real ingestion sees garbage lines; the pipeline must keep good rows
    // and expose the bad ones for a quarantine sink, not die mid-job
    val dir = new java.io.File(tmp("jsonl"))
    dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, "part-0.json"),
      """{"id": 1, "text": "good row"}
        |{"id": 2 "text": "missing comma"}
        |{"id": 3, "text": "also good"}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val read = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.getPath).cache() // corrupt-record column needs a materialized read
    try {
      val good = read.filter(col("_corrupt_record").isNull)
      val bad = read.filter(col("_corrupt_record").isNotNull)
      assert(good.count() == 2, "good rows lost")
      assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      assert(bad.count() == 2, "malformed rows not quarantined")
      // FAILFAST is the opt-in strict mode
      intercept[org.apache.spark.SparkException] {
        spark.read.schema(StructType(schema.dropRight(1)))
          .option("mode", "FAILFAST").json(dir.getPath).collect()
      }
    } finally read.unpersist()
  }
}
