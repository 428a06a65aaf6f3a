package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.engine.GraftSql
import graft.plans.{GCol, GExpr, GLit, PlanBuilder, PlanLintListener}

/** One benchmark run in one JVM: set the session up, run the operations
  * of one workload in passes, and write a JSON record for
  * `perfbench/run.py`, which checks the outputs and prints the metrics.
  *
  * Arguments (all `--key value`):
  *   ops      file of operations, one per line, tab-separated:
  *            `query <name>` (a `SparkEntry.queries` builder, run to the
  *            noop sink), `oracle <name>` (compile that query's oracle SQL
  *            text), `ddl <name> <text>` (compile a mura-form statement),
  *            `doc <name>` (print the mura doc-example plan)
  *   data     table directory (one parquet file per table)
  *   work     per-run scratch directory: artifacts, warehouse, local dirs
  *   out      record file to write
  *   seconds  how long the warm passes run after the cold pass
  *   trace    1 = attach the listeners and record per-layer metrics
  *   cores    local[cores]
  *   spans    traced runs: file for the per-operation spans
  *
  * The run fails (exit code 3, no record) when the pass budget ends the
  * warm passes before [[MinWarm]] passes and [[MinSamples]] compile
  * samples are reached.
  */
object Harness {

  /** Warm passes to run at least; a traced run alternates traced and
    * untraced ones, so four give it two of each.
    */
  val MinWarm = 4
  /** Compile samples to gather at least, so at least 10 lie beyond p99. */
  val MinSamples = 1000
  /** Re-plans of each query's result per warm pass (compile samples of
    * workloads that run queries).
    */
  val Replans = 32
  /** No pass starts after this many seconds of the JVM's life. */
  val BudgetS = 110.0

  final case class Op(kind: String, name: String, text: String)

  private val DocExpected =
    "Projection: UnresolvedColumn(\"id\")" +
      "\n  Selection: BinaryExpression { left: UnresolvedColumn(\"state\"), op: Eq, right: Literal(Utf8(\"CO\")) }" +
      "\n    Scan: employee projection=Some([0, 3])"

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val work = a("work")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", 3)
        Op(f(0), f(1), if (f.length > 2) f(2) else "")
      }

    // ---- set-up, timed from JVM start ----
    val startNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.graft.artifacts.root", s"$work/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val lint = PlanLintListener.watch(spark)
    val t1 = System.nanoTime()
    graft.Tables.views(spark, data)
    val t2 = System.nanoTime()
    val sessionMs = (t1 - t0) / 1e6
    val viewsMs = (t2 - t1) / 1e6
    val setupS = (t2 - startNs) / 1e9
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    lazy val oracleSql = SparkEntry.oracleSql
    val tracer = new Tracer(spark)

    // ---- one operation ----
    final class OpRun(val op: Op) {
      var ok = true
      var err = ""
      var startMs = 0L
      var endMs = 0L
      var wallMs, buildMs, planMs, actionMs = 0.0
      /** Compile latencies: a statement's own, or a query's re-plans. */
      var samples: Seq[Double] = Nil
      var columns: Seq[String] = Nil
      var counters: OpCounters = null
    }

    def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6

    def phaseMs(df: DataFrame, p: String): Double =
      df.queryExecution.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)

    def compileSql(r: OpRun, text: String): Unit = {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val df = GraftSql.sql(spark, text)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "plan")
      df.queryExecution.optimizedPlan
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan
      val t3 = System.nanoTime()
      r.buildMs = ms(t0, t1)
      r.planMs = ms(t1, t3)
      r.wallMs = ms(t0, t3)
      r.samples = Seq(r.wallMs)
      r.columns = df.schema.fieldNames.toSeq
      if (traced) {
        r.counters = tracer.close()
        r.counters.add("engine.sql_ms", ms(t0, t1))
        r.counters.add("catalyst.analyze_ms", phaseMs(df, "analysis"))
        r.counters.add("catalyst.optimize_ms", ms(t1, t2))
        r.counters.add("catalyst.plan_ms", ms(t2, t3))
      }
    }

    def docExample(r: OpRun): Unit = {
      val schema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("first_name", StringType, nullable = false),
        StructField("last_name", StringType, nullable = false),
        StructField("state", StringType, nullable = false),
        StructField("salary", IntegerType, nullable = false)))
      val t0 = System.nanoTime()
      val employee = spark.createDataFrame(java.util.Arrays.asList(
        Row(1, "Alice", "Ashton", "CO", 90000), Row(2, "Bob", "Baker", "CA", 80000),
        Row(3, "Cleo", "Cole", "CO", 85000), Row(4, "Dan", "Dow", "WA", 70000)), schema)
      val plan = PlanBuilder.scan(employee, projection = Some(Seq(0, 3)), tableName = "employee")
        .filter(GExpr.eq(GCol("state"), GLit("CO")))
        .project(GExpr.c("id"))
      val printed = plan.muraString
      val t1 = System.nanoTime()
      plan.build().queryExecution.executedPlan
      val t2 = System.nanoTime()
      r.buildMs = ms(t0, t1)
      r.planMs = ms(t1, t2)
      r.wallMs = ms(t0, t2)
      r.samples = Seq(r.wallMs)
      if (traced) r.counters = tracer.close()
      if (printed != DocExpected) {
        r.ok = false
        r.err = s"doc-example plan printed differently: $printed"
      }
    }

    def runQuery(r: OpRun, dump: Option[String], warm: Boolean): Unit = {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val df = queries(r.op.name)(spark, data)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "plan")
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "action")
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, null)
      r.buildMs = ms(t0, t1)
      r.planMs = ms(t1, t2)
      r.actionMs = ms(t2, t3)
      r.wallMs = ms(t0, t3)
      if (traced) {
        r.counters = tracer.close()
        r.counters.add("catalyst.analyze_ms", phaseMs(df, "analysis"))
        r.counters.add("catalyst.optimize_ms", phaseMs(df, "optimization"))
        r.counters.add("catalyst.plan_ms", phaseMs(df, "planning"))
      }
      // Compile latency of the query's result plan, from its logical plan
      // to a physical plan, sampled outside the timed section. A collection
      // first clears the garbage the query's execution left, so its pauses
      // do not land in the compile samples.
      if (warm) {
        System.gc()
        val plan = df.queryExecution.logical
        val state = df.queryExecution.sparkSession.sessionState
        r.samples = Seq.fill(Replans) {
          val t = System.nanoTime()
          state.executePlan(plan).executedPlan
          ms(t, System.nanoTime())
        }
      }
      // The output check reads this copy; it is written outside the timed
      // section and before clearCache, so cached intermediates serve it.
      dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/${r.op.name}"))
    }

    def runOp(op: Op, dump: Option[String], warm: Boolean): OpRun = {
      val r = new OpRun(op)
      r.startMs = System.currentTimeMillis()
      try op.kind match {
        case "query"  => runQuery(r, dump, warm)
        case "oracle" => compileSql(r, oracleSql(op.name))
        case "ddl"    => compileSql(r, op.text)
        case "doc"    => docExample(r)
      } catch {
        case e: Throwable if NonFatal(e) || e.isInstanceOf[ExceptionInInitializerError] =>
          r.ok = false
          r.err = s"${e.getClass.getName}: ${e.getMessage}".take(400)
      } finally {
        sc.setLocalProperty(Tracer.PhaseKey, null)
        r.endMs = r.startMs + r.wallMs.toLong
        try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      }
      if (traced) {
        if (r.counters == null) r.counters = tracer.close()
        tracer.close() // drop the events of the dump
      } else {
        // Untraced passes drain too, so the asynchronous listener work of
        // one operation (the plan lint) never overlaps the next one's
        // timed section, in traced and untraced passes alike.
        org.apache.spark.perfbench.BusBridge.drain(sc)
      }
      r
    }

    // ---- passes ----
    final case class Pass(index: Int, kind: String, traced: Boolean, runs: Seq[OpRun]) {
      val wallS: Double = runs.map(_.wallMs).sum / 1e3
    }

    def artifactTree(): (Long, Long) = {
      val root = Paths.get(s"$work/artifacts")
      if (!Files.exists(root)) (0L, 0L)
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.foldLeft((0L, 0L)) { case ((d, b), p) =>
          if (Files.isDirectory(p)) (d + 1, b) else (d, b + Files.size(p))
        } finally s.close()
      }
    }
    def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    def gcMs(): Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

    val passes = mutable.ArrayBuffer.empty[Pass]
    val passLayers = mutable.Map.empty[Int, Map[String, Double]]
    val spans = new StringBuilder
    var heapPeakMb = 0.0
    val coldExtra = mutable.Map.empty[String, Double]

    def layerTotals(p: Pass): Map[String, Double] = {
      val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var gapMs = 0L
      var streamBuildMs = 0.0
      var stateBytes = 0L
      p.runs.foreach { r =>
        val c = r.counters
        c.n.foreach { case (k, v) => sum(k) += v }
        gapMs += Tracer.uncovered(c.tasks.toSeq, r.startMs, r.endMs)
        if (c.n("streaming.drains") > 0) streamBuildMs += r.buildMs
        stateBytes += c.lastState.values.sum
        if (r.op.kind == "query") {
          sum("queries.build_ms") += r.buildMs
          sum("queries.action_ms") += r.actionMs
        }
      }
      sum("exec.driver_gap_ms") = gapMs.toDouble
      sum("exec.busy_ratio") = sum("exec.task_run_ms") / (p.wallS * 1e3 * cores)
      val drains = sum("streaming.drains")
      sum("streaming.fixed_ms") =
        if (drains > 0) (streamBuildMs - sum("streaming.triggerExecution_ms")) / drains else 0.0
      sum("streaming.state_mem_bytes") = stateBytes.toDouble
      sum.toMap
    }

    def spanLine(p: Pass, r: OpRun): Map[String, Any] = {
      val children = Seq(
        ("queries.build", r.startMs, r.buildMs), ("catalyst.compile", r.startMs + r.buildMs.toLong, r.planMs),
        ("queries.action", r.startMs + (r.buildMs + r.planMs).toLong, r.actionMs))
        .filter(_._3 > 0).map { case (n, s, d) =>
          Map("layer" -> n, "start_ms" -> s, "duration_ms" -> d)
        }
      val counters = Option(r.counters).map(_.n.toMap).getOrElse(Map.empty)
      Map("pass" -> p.index, "kind" -> p.kind, "op" -> r.op.name, "ok" -> r.ok,
        "start_ms" -> r.startMs, "duration_ms" -> r.wallMs,
        "children" -> children, "counters" -> counters)
    }

    def runPass(kind: String, trace: Boolean, dump: Option[String]): Pass = {
      val index = passes.size
      if (trace) tracer.attach()
      val art0 = artifactTree()
      val jit0 = jitMs()
      val gc0 = gcMs()
      val runs = ops.map(runOp(_, dump, kind == "warm"))
      val p = Pass(index, kind, trace, runs)
      if (trace) {
        tracer.detach()
        if (kind == "cold") {
          val art1 = artifactTree()
          coldExtra("artifacts.dirs_created") = (art1._1 - art0._1).toDouble
          coldExtra("artifacts.bytes_written") = (art1._2 - art0._2).toDouble
          coldExtra("jvm.jit_ms") = jitMs() - jit0
          coldExtra("jvm.gc_ms") = gcMs() - gc0
        }
        passLayers(index) = layerTotals(p)
        runs.foreach(r => spans.append(toJson(spanLine(p, r))).append('\n'))
        System.gc()
        val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
        heapPeakMb = heapPeakMb.max(used)
      }
      passes += p
      p
    }

    def elapsedS() = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val dumpRoot = s"$work/out"
    runPass("cold", traced, Some(s"$dumpRoot/p0"))
    val calibPre = if (traced) calibrate(spark, cores) else 0.0
    val warmStart = System.nanoTime()
    def warm = passes.count(_.kind == "warm")
    def compileMs = passes.toSeq.filter(_.kind == "warm").flatMap(_.runs.filter(_.ok).flatMap(_.samples))
    while ((warm < MinWarm || compileMs.size < MinSamples ||
        (System.nanoTime() - warmStart) / 1e9 < seconds) && elapsedS() < BudgetS) {
      // Traced runs alternate traced and untraced warm passes; the ratio of
      // their medians is the tracing overhead.
      val trace = traced && warm % 2 == 0
      runPass("warm", trace, None)
    }
    if (warm < MinWarm || compileMs.size < MinSamples) {
      System.err.println(s"perfbench: the pass budget of $BudgetS s ended the run after $warm warm " +
        s"passes and ${compileMs.size} compile samples; it needs $MinWarm and $MinSamples")
      spark.stop()
      sys.exit(3)
    }

    // ---- per-layer record (traced runs) ----
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      val tracedWarm = passes.toSeq.filter(p => p.kind == "warm" && p.traced).map(_.index)
      val keys = tracedWarm.flatMap(passLayers(_).keys).distinct
      keys.foreach(k => layers(k) = median(tracedWarm.map(i => passLayers(i).getOrElse(k, 0.0))))
      layers ++= coldExtra
      layers("engine.session_ms") = sessionMs
      layers("tables.views_ms") = viewsMs
      layers("jvm.heap_peak_mb") = heapPeakMb
      layers("jvm.calib_mc_s") = calibPre.min(calibrate(spark, cores))
      layers ++= Probes.run(spark, cores)
    }
    org.apache.spark.perfbench.BusBridge.drain(sc)
    val lintErrors = lint.errorCount

    val dumps = passes.take(1).flatMap { p =>
      p.runs.filter(r => r.ok && r.op.kind == "query").map { r =>
        Map("pass" -> p.index, "name" -> r.op.name, "path" -> s"$dumpRoot/p${p.index}/${r.op.name}")
      }
    }
    val columns = passes.head.runs.filter(r => r.ok && r.columns.nonEmpty)
      .map(r => r.op.name -> r.columns).toMap
    val record = Map(
      "setup_s" -> setupS,
      "passes" -> passes.toSeq.map(p =>
        Map("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS)),
      "attempted" -> passes.map(_.runs.size).sum,
      "errors" -> passes.toSeq.flatMap(p => p.runs.filterNot(_.ok).map(r =>
        Map("pass" -> p.index, "name" -> r.op.name, "error" -> r.err))),
      "compile_ms" -> compileMs,
      "columns" -> columns,
      "dumps" -> dumps,
      "oracle_sql" -> ops.filter(o => o.kind == "query" || o.kind == "oracle")
        .flatMap(o => oracleSql.get(o.name).map(o.name -> _)).toMap,
      "lint_errors" -> lintErrors,
      "layers" -> layers.toMap)
    Files.write(Paths.get(a("out")), toJson(record).getBytes(StandardCharsets.UTF_8))
    if (traced && a.contains("spans"))
      Files.write(Paths.get(a("spans")), spans.toString.getBytes(StandardCharsets.UTF_8))

    try org.apache.spark.perfbench.BusBridge.stopStateStores() catch { case NonFatal(_) => () }
    spark.stop()
    sys.exit(0)
  }

  def toJson(v: Map[String, Any]): String = Serialization.write(v)(DefaultFormats)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `graft.Bench`'s fixed-work machine-speed probe (codegen'd xxhash64,
    * one task per core, no I/O), at a third of Bench's sustained size: a
    * noise witness, never used to normalize a figure.
    */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1600000000L, 1L, cores)
      .selectExpr("bit_xor(xxhash64(id))")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Per-row cost of graft's custom codegen expressions, called through their
  * registered SQL names over `spark.range`: the time of the expression
  * minus the time of its input alone, divided by the rows.
  */
object Probes {
  private val Text =
    "concat('the quick ', cast(id % 1009 as string), ' brown fox jumps over the ', " +
      "cast(id % 7919 as string), ' lazy dog near ', cast(id % 97 as string))"
  private val Tokens = s"split($Text, ' ')"
  private val Vec = "array_repeat(cast(id % 17 as double) + 1.0, 64)"

  /** (metric, rows, expression, its input alone) */
  private val probes = Seq(
    ("functions.minhash_sig_ns_row", 200000L, s"size(minhash_sig($Tokens, 64))", s"size($Tokens)"),
    ("functions.simhash64_ns_row", 1000000L, s"simhash64($Tokens)", s"size($Tokens)"),
    ("functions.cosine_sim_ns_row", 1000000L, s"cosine_sim($Vec, $Vec)", s"size($Vec)"),
    ("functions.explode_shingles_ns_row", 200000L, s"explode_shingles($Text, 5)", Text))

  private def time(spark: SparkSession, cores: Int, rows: Long, expr: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, cores).selectExpr(expr).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(2)(once()).min
  }

  def run(spark: SparkSession, cores: Int): Map[String, Double] =
    probes.map { case (name, rows, expr, input) =>
      name -> (time(spark, cores, rows, expr) - time(spark, cores, rows, input)) * 1e9 / rows
    }.toMap
}
