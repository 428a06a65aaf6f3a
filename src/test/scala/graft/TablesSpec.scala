package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.engine.GraftSql

/** Schema smoke test over every table at every generated SF. The testdata is
  * regenerated by the driver between rounds and physical encodings have
  * drifted before (events.ts: parquet TIMESTAMP(NANOS) -> timestamp[us]);
  * this suite fails loudly and specifically if a regeneration changes a
  * table's canonical logical schema as seen through `Tables.t`.
  */
class TablesSpec extends SparkTestBase {

  private val sfDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Canonical logical schema (name -> dataType) per table, as every query in
    * the repo assumes after `Tables.t` normalization. Timestamp columns other
    * than events.ts arrive as timestamp[us] without tz -> TIMESTAMP_NTZ;
    * events.ts is normalized to session-TZ TimestampType by the loader.
    */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  for (dir <- sfDirs) {
    val sfName = dir.split('/').last

    test(s"$sfName: every table loads, matches its canonical schema, non-empty") {
      for (name <- Tables.names) {
        val df = Tables.t(spark, dir, name)
        val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val want = canonical(name).toMap
        assert(got == want,
          s"$sfName/$name schema drifted (driver regenerated testdata with a " +
            s"new encoding?).\n  got:  ${got.toSeq.sortBy(_._1)}\n  want: ${want.toSeq.sortBy(_._1)}")
        assert(df.limit(1).count() == 1L, s"$sfName/$name is empty")
      }
    }
  }

  // --- Tables.tFan: the scale-adaptive scan fan-out (OPTIMIZATION_r20 §5/§14)

  /** A fresh tmp dir, reaped when the JVM exits (fixture hygiene, ADVICE
    * r20): walk-and-delete, deepest first, so files go before their parent.
    */
  private def tmpDir(prefix: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      if (Files.exists(dir))
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    }))
    dir
  }

  /** Write `rows` ids as a parquet table named `documents` under a fresh tmp
    * dir, pre-partitioned into `files` output files, and return the dir.
    */
  private def fanFixture(files: Int, rows: Int): String = {
    val dir = tmpDir("graft_tfan_")
    spark.range(rows.toLong).toDF("doc_id")
      .repartition(files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("tFan: a single-split scan is fanned out to defaultParallelism") {
    val dir = fanFixture(files = 1, rows = 100)
    val cores = spark.sparkContext.defaultParallelism
    val scanParts = Tables.t(spark, dir, "documents").rdd.getNumPartitions
    assume(scanParts < cores, s"fixture must under-split ($scanParts vs $cores)")
    val fanned = Tables.tFan(spark, dir, "documents")
    assert(fanned.rdd.getNumPartitions == cores,
      "single-split scan must be redistributed to one partition per core")
    // The fan-out is a plan-level round-robin exchange of the scanned rows.
    assert(fanned.queryExecution.executedPlan.toString.toLowerCase
      .contains("roundrobin"), "fan-out must be a round-robin repartition")
    // Content identical — the fan-out only moves rows.
    assert(fanned.count() == 100L)
  }

  test("tFan: a scan with splits >= cores is returned UNCHANGED (no exchange)") {
    // Force per-file splits for tiny files: zero open cost makes
    // maxSplitBytes = totalBytes/defaultParallelism, so the 8 files are not
    // packed into one split. Conf restored after.
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val dir = fanFixture(files = 8, rows = 4000)
      val cores = spark.sparkContext.defaultParallelism
      val scan = Tables.t(spark, dir, "documents")
      val scanParts = scan.rdd.getNumPartitions
      assume(scanParts >= cores, s"fixture must split >= cores ($scanParts vs $cores)")
      val fanned = Tables.tFan(spark, dir, "documents")
      assert(fanned.rdd.getNumPartitions == scanParts,
        "an already-parallel scan must keep its split count")
      assert(!fanned.queryExecution.executedPlan.toString.toLowerCase
        .contains("roundrobin"),
        "no exchange may be added when the scan already has >= cores splits " +
          "(the production-scale no-op branch)")
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
  }

  // --- Tables.parquet: schema inferred once per unchanged file set

  private val sf001 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def output(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable, a.metadata))


  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("schema reuse: a second Tables.t of an unchanged table starts no job and equals the inferred read") {
    for (name <- Tables.names) {
      Tables.t(spark, sf001, name)
      val (df, jobs) = jobsDuring(Tables.t(spark, sf001, name))
      assert(jobs == 0, s"$name: a repeat read of an unchanged table ran $jobs job(s)")
      // the plain inferring read, normalized like Tables.t for events
      val raw = spark.read.parquet(s"$sf001/$name.parquet")
      val inferred = if (name == "events") Tables.normalizeEvents(raw) else raw
      assert(df.schema == inferred.schema, s"$name: reused schema differs from inference")
      assert(output(df) == output(inferred), s"$name: analyzed output differs from inference")
    }
  }

  test("schema reuse: rewriting a table with a different schema re-infers") {
    val dir = tmpDir("graft_schema_reuse_")
    // the testdata layout: a single parquet FILE, replaced in place
    val file = dir.resolve("t.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), file)
    val path = file.toString
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(jobsDuring(Tables.parquet(spark, path))._2 == 0)
    Files.copy(Paths.get(s"$sf/nation.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
    val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs == 0, "re-reading the rewritten file's footer ran a job")
    assert(df.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"),
      "the schema of the file before the rewrite was served")
    assert(df.count() == 25L)
    // the Spark layout: a directory of part files, overwritten
    val sparkDir = dir.resolve("s.parquet").toString
    spark.range(10).toDF("a").write.parquet(sparkDir)
    assert(Tables.parquet(spark, sparkDir).columns.toSeq == Seq("a"))
    spark.range(10).selectExpr("CAST(id AS STRING) AS b", "id AS c")
      .write.mode("overwrite").parquet(sparkDir)
    val rewritten = Tables.parquet(spark, sparkDir)
    assert(rewritten.schema("b").dataType == StringType && rewritten.columns.length == 2)
  }

  test("schema reuse: toggling spark.sql.legacy.parquet.nanosAsLong re-infers") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val path = nanosFixture()
    withConf(key, "true") {
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
      assert(jobsDuring(Tables.parquet(spark, path))._2 == 0,
        "the schema is reused under the same conf")
    }
    withConf(key, "false") {
      // the footer is read again under the flipped conf and rejected, not
      // answered with the nanos-as-long schema remembered above
      val e = intercept[Throwable](Tables.parquet(spark, path))
      assert(causes(e).exists(_.contains("NANOS")), causes(e))
    }
    withConf(key, "true") {
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
    }
  }

  test("schema reuse: mura CREATE EXTERNAL TABLE after Tables.views starts no job") {
    Tables.views(spark, sf001)
    try {
      // the spelled and the qualified location share one entry
      for (loc <- Seq(s"$sf001/orders.parquet", s"file:$sf001/orders.parquet",
          s"$sf001//orders.parquet")) {
        val (df, jobs) = jobsDuring(GraftSql.sql(spark,
          s"CREATE EXTERNAL TABLE orders_ddl STORED AS PARQUET LOCATION '$loc'"))
        assert(jobs == 0, s"CREATE EXTERNAL TABLE at '$loc' ran $jobs job(s)")
        assert(df.schema == spark.table("orders").schema)
      }
    } finally {
      (Tables.names :+ "orders_ddl").foreach(spark.catalog.dropTempView)
    }
  }

  // --- Tables.parquet: a miss reads footers on the driver, never a job

  /** A parquet file written by parquet-mr itself, with no Spark schema in
    * its footer: the converter confs decide its Spark types.
    */
  private def exampleParquet(path: java.nio.file.Path, schema: String)(
      fill: (org.apache.parquet.example.data.Group, Int) => Unit): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withType(msg).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 5).foreach { i =>
      val g = groups.newGroup()
      fill(g, i)
      writer.write(g)
    } finally writer.close()
    path.toString
  }

  /** An events-shaped file whose `ts` is the legacy TIMESTAMP(NANOS). */
  private def nanosFixture(): String =
    exampleParquet(tmpDir("graft_nanos_").resolve("events.parquet"),
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }") {
      (g, i) => g.add("event_id", i.toLong); g.add("ts", 1700000000000000000L + i * 1000000L)
    }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(c => String.valueOf(c.getMessage)).toSeq

  /** `Tables.parquet` on a path no earlier read has seen starts no Spark
    * job and gives the plain inferring read's schema and analyzed output;
    * so does the repeat read that serves the remembered schema.
    */
  private def assertFooterParity(path: String): DataFrame = {
    val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs == 0, s"$path: the schema read ran $jobs job(s)")
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema, s"$path: footer schema differs from inference")
    assert(output(df) == output(plain), s"$path: analyzed output differs from inference")
    val again = Tables.parquet(spark, path)
    assert(output(again) == output(plain), s"$path: the remembered schema differs")
    df
  }

  private def sparkWritten(dir: java.nio.file.Path): String = {
    spark.range(0, 300).selectExpr("id", "CAST(id AS STRING) AS s", "id % 3 AS k")
      .repartition(3).write.parquet(dir.toString)
    dir.toString
  }

  test("footer schema: the ten sf0.01 tables, read fresh, start no job and match inference") {
    val dir = tmpDir("graft_footer_tables_")
    Tables.names.foreach(n =>
      Files.copy(Paths.get(s"$sf001/$n.parquet"), dir.resolve(s"$n.parquet")))
    val (_, viewJobs) = jobsDuring(Tables.views(spark, dir.toString))
    try assert(viewJobs == 0, s"Tables.views over fresh copies ran $viewJobs job(s)")
    finally Tables.names.foreach(spark.catalog.dropTempView)
    val fresh = tmpDir("graft_footer_tables_")
    Tables.names.foreach(n =>
      Files.copy(Paths.get(s"$sf001/$n.parquet"), fresh.resolve(s"$n.parquet")))
    for (name <- Tables.names) {
      val (df, jobs) = jobsDuring(Tables.t(spark, fresh.toString, name))
      assert(jobs == 0, s"$name: a first read ran $jobs job(s)")
      val raw = spark.read.parquet(s"$fresh/$name.parquet")
      val inferred = if (name == "events") Tables.normalizeEvents(raw) else raw
      assert(df.schema == inferred.schema, s"$name: footer schema differs from inference")
      assert(output(df) == output(inferred), s"$name: analyzed output differs from inference")
    }
  }

  test("footer schema: a Spark-written multi-part dir with _SUCCESS and .crc files") {
    val dir = tmpDir("graft_footer_parts_").resolve("t")
    sparkWritten(dir)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.startsWith("part-")) == 3, names)
    assert(assertFooterParity(dir.toString).count() == 300L)
  }

  test("footer schema: a hive-partitioned dir keeps its partition column") {
    val dir = tmpDir("graft_footer_hive_").resolve("t")
    spark.range(0, 300).selectExpr("id", "CAST(id AS STRING) AS s", "id % 3 AS k")
      .write.partitionBy("k").parquet(dir.toString)
    val df = assertFooterParity(dir.toString)
    assert(df.columns.toSeq == Seq("id", "s", "k") && df.schema("k").dataType == IntegerType)
    assert(df.filter("k = 2").count() == 100L)
  }

  test("footer schema: a file in a non-partition subdirectory is not read") {
    // `a/` sorts before the root's part files; the file index offers only
    // files directly under the root (or under k=v dirs) to inference
    val dir = tmpDir("graft_footer_nested_").resolve("t")
    spark.range(10).selectExpr("id AS x").coalesce(1).write.parquet(dir.toString)
    spark.range(10).selectExpr("id AS y", "id AS z").coalesce(1)
      .write.parquet(dir.resolve("a").toString)
    assert(assertFooterParity(dir.toString).columns.toSeq == Seq("x"))
    // with no file left to read, it fails as the plain read does
    val only = tmpDir("graft_footer_nested_").resolve("t")
    spark.range(10).selectExpr("id AS y").coalesce(1).write.parquet(only.resolve("a").toString)
    val plain = intercept[Throwable](spark.read.parquet(only.toString))
    assert(intercept[Throwable](Tables.parquet(spark, only.toString)).getMessage == plain.getMessage)
  }

  test("footer schema: _common_metadata, else _metadata, is read before any part file") {
    // the summary files carry a wider schema than the part files, so
    // reading a part file's footer instead shows as a missing column
    def withSummaries(summaries: String*): String = {
      val dir = tmpDir("graft_footer_summary_").resolve("t")
      sparkWritten(dir)
      summaries.zipWithIndex.foreach { case (name, i) =>
        val wide = dir.getParent.resolve(s"wide$i")
        spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s", "id AS k", s"id AS extra$i")
          .coalesce(1).write.parquet(wide.toString)
        val part = Files.list(wide).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
        Files.copy(part, dir.resolve(name))
      }
      dir.toString
    }
    assert(assertFooterParity(withSummaries("_metadata")).columns.contains("extra0"))
    assert(assertFooterParity(withSummaries("_metadata", "_common_metadata")).columns.toSeq ==
      Seq("id", "s", "k", "extra1"), "_common_metadata comes before _metadata")
  }

  test("footer schema: spark.sql.parquet.mergeSchema merges every part file") {
    val dir = tmpDir("graft_footer_merge_").resolve("t")
    spark.range(3).selectExpr("id", "id AS a").coalesce(1).write.parquet(dir.toString)
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS b").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(assertFooterParity(dir.toString).columns.toSet == Set("id", "a", "b"))
    }
    withConf("spark.sql.parquet.mergeSchema", "false") {
      assert(assertFooterParity(dir.toString).columns.length == 2)
    }
  }

  test("footer schema: spark.sql.parquet.binaryAsString decides an unannotated binary column") {
    val file = exampleParquet(tmpDir("graft_footer_binary_").resolve("b.parquet"),
      "message m { required int64 id; required binary raw; }") {
      (g, i) => g.add("id", i.toLong); g.add("raw", s"v$i")
    }
    for ((flag, want) <- Seq("true" -> StringType, "false" -> BinaryType, "true" -> StringType))
      withConf("spark.sql.parquet.binaryAsString", flag) {
        assert(assertFooterParity(file).schema("raw").dataType == want, s"binaryAsString=$flag")
      }
  }

  test("footer schema: a NANOS events file still takes the nanosAsLong retry") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val path = nanosFixture()
    withConf(key, "false") {
      val e = intercept[Throwable](Tables.parquet(spark, path))
      assert(causes(e).exists(m => m.contains("NANOS") || m.contains("nanosAsLong")), causes(e))
      // readEvents sets the flag on that rejection and reads again
      val (events, jobs) = jobsDuring(Tables.t(spark, Paths.get(path).getParent.toString, "events"))
      assert(jobs == 0)
      assert(spark.conf.get(key) == "true")
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.orderBy("event_id").collect().map(_.getTimestamp(1).getTime).toSeq ==
        (0 until 5).map(i => 1700000000000L + i))
    }
  }

  test("footer schema: a truncated non-parquet file fails with the plain read's root message") {
    val dir = tmpDir("graft_footer_corrupt_").resolve("t")
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000.parquet"), "PAR".getBytes)
    val plain = intercept[Throwable](spark.read.parquet(dir.toString).schema)
    val (ours, jobs) = jobsDuring(intercept[Throwable](Tables.parquet(spark, dir.toString)))
    assert(jobs == 0)
    assert(causes(ours).last == causes(plain).last, s"ours: ${causes(ours)}\nplain: ${causes(plain)}")
    assert(causes(ours).last.contains("is not a Parquet file"), causes(ours))
  }

  test("Tables.parquet is the only schema-less parquet read in src/main") {
    val plainRead = """read\s*\.\s*parquet\(""".r
    val root = Paths.get("src/main/scala")
    val readers = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => plainRead.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq
    assert(readers == Seq("graft/Tables.scala"))
  }

  test("tFan: the cached split count follows a table rewrite") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = fanFixture(files = 1, rows = 4000)
    assume(Tables.t(spark, dir, "documents").rdd.getNumPartitions < cores)
    assert(Tables.tFan(spark, dir, "documents").rdd.getNumPartitions == cores)
    spark.range(4000).toDF("doc_id").repartition(cores * 2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scanParts = Tables.t(spark, dir, "documents").rdd.getNumPartitions
    assume(scanParts >= cores, s"rewrite must split >= cores ($scanParts vs $cores)")
    val fanned = Tables.tFan(spark, dir, "documents")
    assert(fanned.rdd.getNumPartitions == scanParts)
    assert(!fanned.queryExecution.executedPlan.toString.toLowerCase.contains("roundrobin"),
      "the single-split count from before the rewrite was served")
  }

  test("tFan: the cached split count follows spark.sql.files.maxPartitionBytes") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = fanFixture(files = 1, rows = 4000)
    assume(Tables.t(spark, dir, "documents").rdd.getNumPartitions < cores)
    assert(Tables.tFan(spark, dir, "documents").rdd.getNumPartitions == cores)
    // 1 KB splits cut the one file into more splits than cores
    withConf("spark.sql.files.maxPartitionBytes", "1024") {
      val scanParts = Tables.t(spark, dir, "documents").rdd.getNumPartitions
      assume(scanParts > cores, s"1 KB splits must exceed cores ($scanParts vs $cores)")
      assert(Tables.tFan(spark, dir, "documents").rdd.getNumPartitions == scanParts,
        "a split count cached under other split sizing was served")
    }
  }
}
