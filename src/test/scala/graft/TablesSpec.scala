package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ListenerBusBridge
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

  /** Run `body` and count the Spark jobs it started. Jobs are matched by a
    * local property set on this thread only, so a job from any other
    * thread cannot land in the count.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val a = body
      ListenerBusBridge.drain(spark)
      (a, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

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
    assert(jobs > 0, "a rewritten file must be re-inferred")
    assert(df.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
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
    val path = s"$sf/region.parquet"
    Tables.parquet(spark, path)
    val flipped = (!spark.conf.getOption(key).contains("true")).toString
    withConf(key, flipped) {
      assert(jobsDuring(Tables.parquet(spark, path))._2 > 0,
        "a changed parquet conf must force a re-inference")
      assert(jobsDuring(Tables.parquet(spark, path))._2 == 0,
        "the re-inferred schema is reused under the same conf")
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
