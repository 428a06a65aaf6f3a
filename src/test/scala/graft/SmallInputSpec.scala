package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DatasetBridge, SizedSession}
import graft.plans.SmallInput

/** The size rule: below its threshold an aggregate, a global sort, a
  * window, an equi-join (also one over another's output), an `except`
  * and a sorted read of a memory sink plan with no exchange and run as
  * one job; above it, and for every plan the rule leaves alone, the
  * physical plan is the one a session without the rule prints; results do
  * not depend on which of the two planned them.
  */
class SmallInputSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val without = SizedSession.of(spark, None)

  private def shapes(s: SparkSession): Seq[(String, DataFrame)] = {
    val orders = Tables.t(s, sf, "orders")
    val customer = Tables.t(s, sf, "customer")
    val nation = Tables.t(s, sf, "nation")
    Seq(
      "aggregate" -> orders.groupBy("o_custkey").agg(sum("o_totalprice").as("t")),
      "global sort" -> orders.select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")),
      "window" -> orders.select(col("o_orderkey"), row_number().over(
        Window.partitionBy("o_custkey").orderBy("o_orderkey")).as("r")),
      "equi-join" -> orders.join(customer, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name"),
      "chained equi-joins" -> orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(sum("o_totalprice").as("t")),
      "except" -> customer.select(col("c_custkey").as("k"))
        .except(orders.select(col("o_custkey").as("k"))))
  }

  /** `df`'s analyzed plan, planned on `s`. */
  private def on(s: SparkSession, df: DataFrame): DataFrame =
    DatasetBridge.ofRows(s, df.queryExecution.analyzed)

  private def physical(df: DataFrame): String = normalized(df.queryExecution.executedPlan)

  private def normalized(plan: SparkPlan): String = plan.treeString
    .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("state info \\[[^\\]]*\\]", "state info")

  /** A stream source dir holding `sf`'s orders file. */
  private lazy val streamDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-small-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toFile.deleteOnExit()
    dir.toString
  }

  /** The physical plan of the last micro-batch of a streaming aggregate
    * over `sf`'s orders, run on `s`.
    */
  private def microBatch(s: SparkSession): String = {
    val orders = Tables.t(s, sf, "orders")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-small-ckpt").toString
    val q = s.readStream.schema(orders.schema).parquet(streamDir)
      .groupBy("o_custkey").count()
      .writeStream.format("noop").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      normalized(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
    case q: QueryStageExec => q
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("below the threshold: no exchange, no query stage, one job, the same rows") {
    shapes(spark).foreach { case (name, df) =>
      assert(exchanges(df.queryExecution.executedPlan).isEmpty, s"$name:\n${physical(df)}")
      val (_, jobs) = jobsDuring(df.write.format("noop").mode("overwrite").save())
      assert(exchanges(df.queryExecution.executedPlan).isEmpty, s"$name ran:\n${physical(df)}")
      assert(jobs == 1, s"$name ran $jobs jobs")
      assert(rows(df) == rows(on(distributed, df)), name)
    }
  }

  test("above the threshold: the physical plan of a session without the rule") {
    shapes(distributed).foreach { case (name, df) =>
      assert(exchanges(df.queryExecution.executedPlan).nonEmpty, s"$name:\n${physical(df)}")
      assert(physical(df) == physical(on(without, df)), name)
    }
  }

  test("a streaming plan, an explicit-slice range, a checkpointed frame and a user repartition plan as without the rule") {
    assert(microBatch(spark) == microBatch(without), "streaming")
    val orders = Tables.t(spark, sf, "orders")
    val left = Seq(
      "range" -> spark.range(0, 1000, 1, 3).groupBy(col("id") % 7).count(),
      "checkpointed" -> orders.localCheckpoint().groupBy("o_custkey").count(),
      "repartition" -> orders.repartition(3).groupBy("o_custkey").count())
    left.foreach { case (name, df) =>
      assert(physical(df) == physical(on(without, df)), name)
    }
  }

  test("the rule is idempotent: a second pass changes nothing") {
    shapes(spark).foreach { case (name, df) =>
      val once = df.queryExecution.optimizedPlan
      assert(once.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition])
        || once.exists(_.isInstanceOf[graft.plans.OnePartition]), name)
      assert(SmallInput.rule(once) == once, name)
    }
  }

  test("board queries with seeded sampling or a tFan fan-out: same rows above and below the threshold") {
    val board = Seq("q_sample_stratified", "q_train_test_split", "q_dedup_simhash",
      "q_pq_assign", "q_bpe_pairs", "q_table_checksum")
    board.foreach { name =>
      val below = SparkEntry.queries(name)(spark, sf)
      val hashBelow = rows(below).hashCode
      val hashAbove = rows(SparkEntry.queries(name)(distributed, sf)).hashCode
      assert(hashBelow == hashAbove, name)
    }
  }

  test("a read of a streaming query's memory sink: no exchange, one job, the same rows") {
    // how every q_stream_* query reads its result: s.table(sink).orderBy(..)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem.addData((3L, "c"), (1L, "a"), (5L, "e"), (2L, "b"), (4L, "d"), (1L, "z"))
    val sink = "small_input_memory_sink"
    val q = mem.toDF().toDF("k", "v").writeStream.format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val df = spark.table(sink).orderBy("k", "v")
    assert(exchanges(df.queryExecution.executedPlan).isEmpty, physical(df))
    val (_, jobs) = jobsDuring(df.write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"the sink read ran $jobs jobs:\n${physical(df)}")
    assert(df.collect().map(_.toString).toSeq == on(distributed, df).collect().map(_.toString).toSeq)
  }
}
