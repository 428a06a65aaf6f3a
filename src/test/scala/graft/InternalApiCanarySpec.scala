package graft

import org.apache.spark.sql.functions._

/** Spark-upgrade canary: one test per SEMI-INTERNAL Spark API this
  * library touches, each failing with a message that names the touch and
  * where it lives. The inventory (kept deliberately small and contained
  * in two files — `org.apache.spark.sql.graft.shims` and the
  * `MemoryStream` import in tests/StreamingCalib) is the first thing to
  * break on a Spark upgrade; when an upgrade moves one of these, THIS
  * suite says which, instead of an opaque compile spray or a silently
  * changed behavior.
  *
  * Most breakage is compile-time (the shims won't build against a Spark
  * that moved `classic.ExpressionUtils` etc.) — the runtime assertions
  * below additionally pin the SEMANTICS each caller relies on, which can
  * drift without a compile error.
  */
class InternalApiCanarySpec extends SparkTestBase {

  test("canary: ColumnBridge (classic.ExpressionUtils) round-trips Expression <-> Column") {
    import org.apache.spark.sql.graft.ColumnBridge
    // shims.scala: ExpressionUtils.column/expression (private[sql] in
    // Spark 4). Round-trip must preserve evaluation.
    val e = ColumnBridge.expression(lit(41) + lit(1))
    val back = ColumnBridge.column(e)
    val got = spark.range(1).select(back.as("v")).head().getInt(0)
    assert(got == 42,
      "ColumnBridge round-trip broke — did org.apache.spark.sql.classic.ExpressionUtils move?")
  }

  test("canary: SortOrderBridge reads sort direction off a .desc Column node") {
    import org.apache.spark.sql.graft.SortOrderBridge
    // shims.scala: Column.node (private[sql]) + api-module internal
    // SortOrder ColumnNode. GlobalRank's offset direction depends on it.
    assert(SortOrderBridge.isDescending(col("x").desc),
      "SortOrderBridge no longer sees Descending on col.desc — did " +
        "org.apache.spark.sql.internal.SortOrder or Column.node change?")
    assert(!SortOrderBridge.isDescending(col("x")) &&
      !SortOrderBridge.isDescending(col("x").asc),
      "SortOrderBridge misreads ascending columns")
  }

  test("canary: ListenerBusBridge drains the async listener bus") {
    import org.apache.spark.sql.graft.ListenerBusBridge
    // shims.scala: SparkContext.listenerBus.waitUntilEmpty
    // (private[spark]). The bench's lint gate reads counters after it.
    val l = graft.plans.PlanLintListener.watch(spark)
    try {
      // NOT orderBy(id): Range already declares that ordering and
      // EliminateSorts removes the sort — no finding, nothing delivered.
      // id % 7 survives optimization and plans a real global SortExec.
      spark.range(100).orderBy(col("id") % 7).collect() // GLOBAL_SORT info
      ListenerBusBridge.drain(spark)
      assert(l.reports.nonEmpty,
        "listener callback not delivered after drain — did " +
          "LiveListenerBus.waitUntilEmpty change?")
    } finally graft.plans.PlanLintListener.unwatch(spark, l)
  }

  test("canary: DatasetBridge.ofRows builds a DataFrame from a raw logical plan") {
    import org.apache.spark.sql.graft.DatasetBridge
    // shims.scala: classic.Dataset.ofRows + the classic.SparkSession cast.
    val plan = org.apache.spark.sql.catalyst.plans.logical.Range(0, 3, 1, Some(1))
    assert(DatasetBridge.ofRows(spark, plan).count() == 3,
      "DatasetBridge.ofRows broke — did org.apache.spark.sql.classic.Dataset move?")
  }

  test("canary: StateStoreBridge quiesces loaded state-store providers") {
    import org.apache.spark.sql.graft.StateStoreBridge
    // shims.scala: execution.streaming.state.StateStore.stop(). Bench and
    // Verify call it before printing their artifacts; it must be callable
    // repeatedly and leave the engine usable for later streaming work
    // (providers reload lazily on the next drain).
    StateStoreBridge.stopAll()
    StateStoreBridge.stopAll()
  }

  test("canary: MemoryStream lives at execution.streaming.runtime and round-trips a batch") {
    // tests + StreamingCalib import
    // org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // (moved from execution.streaming in Spark 4.1 — this pins the NEW
    // location so the next move is equally loud).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val q = mem.toDS().writeStream.outputMode("append")
      .format("memory").queryName("canary_mem_sink").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("canary_mem_sink").count() == 3,
      "MemoryStream round-trip broke — did it move out of execution.streaming.runtime?")
  }

  test("canary: ArtifactManager reads isolation lazily, and a cloned session copies it") {
    import org.apache.spark.sql.graft.{ArtifactBridge, ClonedSession, PlainSession}
    // engine.CompiledClasses via GraftFunctions.installPlanner sets
    // spark.sql.artifact.isolation.enabled on a session that already
    // exists, and a streaming drain runs on a clone of its session: the
    // session's ArtifactManager must read the key at its first execution
    // (not when it is built), and a clone must carry the key.
    val key = graft.engine.CompiledClasses.IsolationKey
    def session(isolation: String) = {
      val s = PlainSession.on(spark)
      s.conf.set(key, isolation)
      s.range(1).collect()
      s
    }
    val off = session("false")
    val on = session("true")
    assert(ArtifactBridge.isolatedAs(off).isEmpty && ArtifactBridge.isolatedAs(on).isDefined,
      s"ArtifactManager ignored $key set after its session was built — does " +
        "org.apache.spark.sql.artifact.ArtifactManager still read it lazily?")
    val (offClone, onClone) = (ClonedSession.of(off), ClonedSession.of(on))
    assert(ArtifactBridge.isolatedAs(offClone).isEmpty,
      s"a clone of a session with $key=false is isolated — does " +
        "SparkSession.cloneSession still copy the session conf to the clone's ArtifactManager?")
    assert(ArtifactBridge.isolatedAs(onClone).exists(!ArtifactBridge.isolatedAs(on).contains(_)),
      "a clone of an isolated session is not isolated as itself — did " +
        "ArtifactManager.clone / JobArtifactState change?")
  }

  test("canary: CodeGenerator sizes its class cache from SQLConf.get at the JVM's first compile") {
    // engine.CompiledClasses via GraftFunctions.installPlanner sets
    // spark.sql.codegen.cache.maxEntries as an entry of the session conf
    // (a static conf, so not through spark.conf). A second JVM sets it
    // that way to 1234 on a plain session, compiles once and reads the
    // capacity of CodeGenerator's cache.
    val lines = SecondJvm.run(180, "graft.CodegenProbe", "capacity", sf)
    assert(lines.contains("CAPACITY 1234"),
      "CodeGenerator's cache capacity did not come from the session conf entry " +
        "spark.sql.codegen.cache.maxEntries — does CodeGenerator still build its " +
        s"cache from SQLConf.get.codegenCacheMaxEntries? Probe output:\n${lines.mkString("\n")}")
  }
}
