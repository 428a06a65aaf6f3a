package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graft.PlainSession
import graft.functions.GraftFunctions

/** The session factory and the function table: one way to build a
  * session, one list of SQL functions, the as-of strategy installed once
  * whichever registration path ran.
  */
class GraftSessionSpec extends SparkTestBase {

  private val names = GraftFunctions.table.map(_._1.funcName)

  private def usageOf(s: SparkSession, name: String): String =
    s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)).mkString("\n")

  private def asOfStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_ eq graft.plans.AsOfJoinStrategy)

  test("factory conf: local[4,2], shuffle = cores, AQE, UTC, no UI, tmpdir warehouse") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4,2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    val warehouse = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    assert(warehouse.startsWith(Paths.get(sys.props("java.io.tmpdir"))), warehouse)
  }

  test("GraftSession is the only SparkSession builder in src/main") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq
    assert(builders == Seq("graft/engine/GraftSession.scala"))
  }

  test("the function table has 12 distinct functions, each resolvable with its usage") {
    assert(names.size == 12 && names.distinct.size == 12)
    GraftFunctions.table.foreach { case (id, info, _) =>
      assert(spark.catalog.functionExists(id.funcName), id.funcName)
      assert(usageOf(spark, id.funcName).contains(info.getUsage), id.funcName)
    }
  }

  test("a session without the extensions gets the same functions from register") {
    val plain = PlainSession.on(spark)
    assert(names.forall(n => !plain.catalog.functionExists(n)),
      "the plain session already had graft functions")
    GraftFunctions.register(plain)
    assert(names.filter(plain.catalog.functionExists) == names)
    GraftFunctions.table.foreach { case (id, info, _) =>
      assert(usageOf(plain, id.funcName) == usageOf(spark, id.funcName), id.funcName)
    }
    val cos = plain.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))").head().getDouble(0)
    assert(cos == 1.0)
  }

  private def sizeRules(s: SparkSession): Int =
    s.experimental.extraOptimizations.count(_.isInstanceOf[graft.plans.SmallInput])

  test("the as-of strategy is installed once whichever path ran") {
    import spark.implicits._
    def asOfJoin(s: SparkSession): Unit = {
      val l = s.createDataset(Seq((1L, 10L))).toDF("k", "ts")
      val r = s.createDataset(Seq((1L, 5L, 7L))).toDF("k", "rts", "v")
      val got = graft.operators.AsOfJoin.native(l, r, "k", "ts", "rts", Seq("v"))
        .select(col("v")).as[Long].collect()
      assert(got.toSeq == Seq(7L))
    }
    assert(sizeRules(spark) == 1)
    GraftFunctions.register(spark)
    asOfJoin(spark)
    GraftFunctions.register(spark)
    assert(asOfStrategies(spark) == 1)
    assert(sizeRules(spark) == 1)
    assert(!spark.experimental.extraOptimizations.contains(graft.plans.PushFilterThroughAsOfJoin))

    val plain = PlainSession.on(spark)
    assert(asOfStrategies(plain) == 0 && sizeRules(plain) == 0)
    asOfJoin(plain)
    assert(asOfStrategies(plain) == 1 && sizeRules(plain) == 1)
    GraftFunctions.register(plain)
    asOfJoin(plain)
    assert(asOfStrategies(plain) == 1)
    assert(plain.experimental.extraOptimizations.count(_ eq graft.plans.PushFilterThroughAsOfJoin) == 1)
    assert(plain.experimental.extraOptimizations.count(_ eq graft.plans.SmallInput.rule) == 1)
  }

  test("the factory session and a register-only session resolve file: to graft's LocalFs") {
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    import graft.sources.LocalFs
    val root = java.net.URI.create("file:///")
    def resolved(s: SparkSession): (Class[_], Class[_]) = {
      val conf = s.sessionState.newHadoopConf()
      (FileSystem.get(root, conf).getClass,
        FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass)
    }
    val graftFs = (classOf[LocalFs.FileSystemImpl], classOf[LocalFs.FileContextImpl])
    assert(resolved(spark) == graftFs)
    // register alone puts the keys back on a context that lost them
    val hadoop = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val before = keys.map(hadoop.get)
    hadoop.unset("fs.file.impl")
    hadoop.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    try {
      val plain = PlainSession.on(spark)
      GraftFunctions.register(plain)
      assert(keys.map(hadoop.get) == before)
      assert(resolved(plain) == graftFs)
    } finally keys.zip(before).foreach { case (k, v) => hadoop.set(k, v) }
  }

  test("the factory session and a register-only session optimize a query the same way") {
    val plain = PlainSession.on(spark)
    GraftFunctions.register(plain)
    def optimized(s: SparkSession): String = {
      val orders = Tables.t(s, sf, "orders")
      val customer = Tables.t(s, sf, "customer")
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_name").agg(sum("o_totalprice").as("t"))
        .orderBy(col("t").desc, col("c_name"))
        .queryExecution.optimizedPlan.treeString.replaceAll("#\\d+", "#")
    }
    val factory = optimized(spark)
    assert(factory.contains("Repartition 1, false"), factory)
    assert(optimized(plain) == factory)
  }
}
