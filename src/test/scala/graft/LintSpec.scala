package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanLint

/** PlanLint: each rule fires on a deliberately-bad plan, stays silent on
  * the good formulation, and the library's own headline queries carry no
  * unacknowledged errors.
  */
class LintSpec extends SparkTestBase {

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] = {
    // other suites cache these tables; InMemoryTableScan would hide the
    // parquet scans the scan-level rules inspect (the PlanAuditSpec rule)
    spark.catalog.clearCache()
    PlanLint.lint(df).map(_.rule).toSet
  }

  test("UNPARTITIONED_WINDOW fires on a global window, not on a keyed one") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.t(spark, sf, "lineitem")
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
    assert(rules(bad).contains("UNPARTITIONED_WINDOW"))
    val good = li.withColumn("rn", row_number().over(
      Window.partitionBy("l_orderkey").orderBy("l_linenumber")))
    assert(!rules(good).contains("UNPARTITIONED_WINDOW"))
  }

  test("CARTESIAN fires on a true cross product") {
    val li = Tables.t(spark, sf, "lineitem").select("l_orderkey")
    val o = Tables.t(spark, sf, "orders").select("o_orderkey")
    // disable auto-broadcast so the product cannot degrade to BNLJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(rules(li.crossJoin(o)).contains("CARTESIAN"))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(!rules(li.join(o, li("l_orderkey") === o("o_orderkey")))
      .contains("CARTESIAN"))
  }

  test("NESTED_LOOP warns on a non-equi join") {
    val li = Tables.t(spark, sf, "lineitem").select("l_quantity")
    val bounds = Tables.t(spark, sf, "region").select(
      (col("r_regionkey") * 10).as("lo"))
    val bad = li.join(bounds, col("l_quantity") >= col("lo"))
    assert(rules(bad).contains("NESTED_LOOP"))
  }

  test("UNPUSHED_FILTER fires when a UDF blocks pushdown, not on pushable predicates") {
    val li = Tables.t(spark, sf, "lineitem")
    val opaque = udf((d: Double) => d > 10.0)
    assert(rules(li.filter(opaque(col("l_quantity"))))
      .contains("UNPUSHED_FILTER"))
    assert(!rules(li.filter(col("l_quantity") > 10.0))
      .contains("UNPUSHED_FILTER"))
  }

  test("BIG_BROADCAST catches a hinted broadcast over the limit") {
    spark.catalog.clearCache()
    val li = Tables.t(spark, sf, "lineitem")
    val o = Tables.t(spark, sf, "orders")
    val joined = li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
    val tight = PlanLint.lint(joined, broadcastLimit = 1L).map(_.rule)
    assert(tight.contains("BIG_BROADCAST"), s"got $tight")
    assert(!PlanLint.lint(joined).map(_.rule).contains("BIG_BROADCAST"),
      "default limit must tolerate a test-scale dimension")
  }

  test("SINGLE_PARTITION warns on repartition(1) of raw rows, not on a global aggregate") {
    val li = Tables.t(distributed, sf, "lineitem")
    assert(rules(li.repartition(1)).contains("SINGLE_PARTITION"))
    // global agg funnels through SinglePartition BELOW a partial agg — fine
    assert(!rules(li.agg(sum("l_quantity"))).contains("SINGLE_PARTITION"))
    assert(!rules(li.agg(sum("l_quantity"))).contains("MISSING_PARTIAL_AGG"))
  }

  test("assertClean throws on errors, honors ignore and failOn") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.t(spark, sf, "lineitem")
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
    intercept[IllegalStateException](PlanLint.assertClean(bad))
    // acknowledged rule passes
    PlanLint.assertClean(bad,
      ignore = Set("UNPARTITIONED_WINDOW", "SINGLE_PARTITION"))
    // info findings never fail the default gate
    PlanLint.assertClean(li.orderBy("l_orderkey", "l_linenumber"))
  }

  test("session listener audits every query: findings logged, clean runs silent") {
    import org.apache.spark.sql.expressions.Window
    val l = PlanLint.watch(spark)
    try {
      val li = Tables.t(spark, sf, "lineitem")
      // a clean query first: must produce no report
      li.filter(col("l_quantity") > 10).count()
      // then a scale-killer: global window over raw rows
      li.withColumn("rn",
          row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
        .write.format("noop").mode("overwrite").save()
      // listener events are posted asynchronously — drain the bus first
      org.apache.spark.sql.graft.ListenerBusBridge.drain(spark)
      val hits = l.reports.filter(
        _.findings.exists(_.rule == "UNPARTITIONED_WINDOW"))
      assert(hits.nonEmpty,
        s"UNPARTITIONED_WINDOW never surfaced; got ${l.reports}")
      assert(!l.reports.exists(r => r.findings.isEmpty),
        "clean queries must not produce reports")
    } finally graft.plans.PlanLintListener.unwatch(spark, l)
  }

  test("errorCount survives report-ring eviction (the gate reads the counter, not the ring)") {
    import org.apache.spark.sql.expressions.Window
    val l = graft.plans.PlanLint.watch(spark)
    try {
      // one error-severity plan...
      Tables.t(spark, sf, "lineitem")
        .withColumn("rn",
          row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
        .write.format("noop").mode("overwrite").save()
      // ...then flood the ring past MaxReports with benign info findings
      // (a global ORDER BY per action — the board's dominant shape)
      (1 to graft.plans.PlanLintListener.MaxReports + 10).foreach { i =>
        spark.range(0, 50).orderBy(col("id").desc)
          .write.format("noop").mode("overwrite").save()
      }
      org.apache.spark.sql.graft.ListenerBusBridge.drain(spark)
      assert(!l.reports.exists(_.findings.exists(_.severity == "error")),
        "precondition: the error report should have been evicted by the flood")
      assert(l.errorCount >= 1L,
        "the monotonic counter must still carry the evicted error")
    } finally graft.plans.PlanLintListener.unwatch(spark, l)
  }

  // ---- exception-list hygiene -------------------------------------------
  // Every acknowledged name is a PAIR (name -> why the error is
  // acceptable), and the registration site is not hand-maintained: it is
  // recovered from the query sources and asserted to exist, so a renamed
  // or deleted query breaks the build here instead of silently shrinking
  // the sweep. A separate test fails any acknowledgment whose plan no
  // longer lints dirty — the decay mode of name-only CI exception lists.

  private lazy val querySources: Seq[(String, Vector[String])] = {
    val dir = new java.io.File("src/main/scala/graft/queries")
    dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getPath -> src.getLines().toVector finally src.close()
    }
  }

  /** The unique `Q("name"` registration site, as file:line. */
  private def site(name: String): String = {
    val hits = for {
      (p, lines) <- querySources
      (l, i) <- lines.zipWithIndex if l.contains("Q(\"" + name + "\"")
    } yield s"$p:${i + 1}"
    assert(hits.size == 1,
      s"$name: expected exactly one registration site, found $hits")
    hits.head
  }

  // EMPTY — and kept that way by the stale-check test below. Round 11
  // finding: the round-10 list carried 25 name-only exceptions
  // (all-pairs baselines, non-equi joins, as-of demos, ...) and EVERY
  // ONE of them linted clean at error severity — the error-level rules
  // are UNPARTITIONED_WINDOW and CARTESIAN only, and the acknowledged
  // shapes all plan as equi-joins on gram/band/block keys or degrade to
  // broadcast nested-loop (a WARN, which this sweep never gated). The
  // whole list was dead weight able to shadow real future regressions.
  // A new entry must be a (name -> why) pair; the hygiene test pins its
  // registration site and fails the build the day it lints clean again.
  private val acknowledged = Map.empty[String, String]

  // Queries whose BUILDER runs real jobs (streaming drains, iterative
  // driver-loop trainers/selectors, write-path round-trips) — linting
  // those would execute them; their plans are audited via EXPLAINS.md
  // and their own specs instead.
  private val executesOnBuild = Set(
    // streaming drains
    "q_stream_anomaly", "q_stream_session", "q_stream_neardedup",
    "q_stream_heavy", "q_stream_join", "q_stream_sample", "q_stream_cms",
    "q_stream_dedup", "q_stream_quantile", "q_stream_curation",
    "q_stream_dedup_2b", "q_stream_cms_2b", "q_stream_drift",
    // driver-loop iterative builders (collect per round by contract)
    "q_coreset", "q_mmr_select", "q_embed_knn_ivf", "q_embed_knn_ivfpq",
    "q_embed_knn_pq", "q_pq_assign", "q_ivf_assign", "q_kmeans_step",
    "q_pagerank", "q_dedup_clusters", "q_dedup_canonical", "q_bpe_pairs",
    "q_bpe_encode", "q_pack_bpe", "q_mixture", "q_mix_upsample",
    "q_mix_temperature", "q_sample_pps", "q_curriculum", "q_freq_items",
    "q_heavy_hitters", "q_dedup_semantic", "q_decontaminate_semantic",
    "q_recursive_cte", "q_hll_merge", "q_embed_standardize",
    "q_linear_train_apply", "q_classifier_eval",
    // write-path round-trips (produce files on build)
    "q_write_partitioned", "q_write_bucketed", "q_write_zordered",
    "q_multiformat", "q_schema_evolution", "q_compact", "q_dpp",
    "q_dedup_apply_from_table", // materializes the cluster table on cache miss
    "q_ann_from_index", // materializes the IVF index on cache miss
    "q_dedup_clusters_incr", // materializes the base cluster table on cache miss
    "q_ann_index_incr", // materializes the staged IVF index on cache miss
    "q_ann_from_index_pq", // materializes the IVF-PQ index on cache miss
    "q_ann_index_compact", // compacts the staged IVF index on cache miss
    "q_incr_agg", "q_upsert", "q_zorder", "q_table_checksum",
    "q_arrow_roundtrip", "q_create_external", "q_dsv2_scan")

  test("headline queries carry no unacknowledged lint errors") {
    // NESTED_LOOP/GLOBAL_SORT/info are deliberate in specific queries
    // (bounded inline tables, ordered oracles); ERRORS must be absent
    // everywhere except the documented quadratic BASELINES.
    val offenders = ExplainDump.headline.flatMap { name =>
      spark.catalog.clearCache()
      val errs = PlanLint.lint(SparkEntry.queries(name)(spark, sf))
        .filter(_.severity == "error")
      if (errs.isEmpty) None else Some(name -> errs.map(_.rule).distinct)
    }.toMap
    val unexpected = offenders.view.filterKeys(!acknowledged.contains(_)).toMap
    assert(unexpected.isEmpty,
      s"new scale-killers crept into headline plans: $unexpected")
  }

  test("the REST of the board carries no unacknowledged lint errors either") {
    val rest = SparkEntry.queries.keySet -- ExplainDump.headline.toSet --
      executesOnBuild
    val offenders = rest.toSeq.sorted.flatMap { name =>
      spark.catalog.clearCache()
      val errs = PlanLint.lint(SparkEntry.queries(name)(spark, sf))
        .filter(_.severity == "error")
      if (errs.isEmpty) None else Some(name -> errs.map(_.rule).distinct)
    }.toMap
    val unexpected = offenders.view.filterKeys(!acknowledged.contains(_)).toMap
    assert(unexpected.isEmpty,
      s"scale-killers outside the headline sweep: $unexpected")
  }

  test("every exception-list entry points at a live registration and still lints dirty") {
    (acknowledged.keySet ++ executesOnBuild).foreach { name =>
      val s = site(name) // asserts exactly one Q("name" site exists
      assert(SparkEntry.queries.contains(name),
        s"$name ($s): in an exception list but not registered")
    }
    // stale-acknowledgment check: an acknowledged plan that now lints
    // CLEAN means the exception no longer covers anything — remove it
    // before the list decays into noise. (executesOnBuild is excluded:
    // those are skipped for execution cost, not lint findings.)
    val stale = acknowledged.toSeq.sortBy(_._1).flatMap { case (name, reason) =>
      spark.catalog.clearCache()
      val errs = PlanLint.lint(SparkEntry.queries(name)(spark, sf))
        .filter(_.severity == "error")
      if (errs.isEmpty) Some(s"$name (${site(name)}): '$reason'") else None
    }
    assert(stale.isEmpty,
      s"stale acknowledgments — these lint clean now, remove them from " +
        s"LintSpec:\n  ${stale.mkString("\n  ")}")
  }
}
