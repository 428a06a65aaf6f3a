package graft

/** Physical-plan regression tests: the scale-critical plan properties
  * (pushdown, pruning, broadcast, top-k lowering, partial aggregation)
  * asserted so a refactor can't silently regress them. These are the
  * properties that decide whether a query survives a 100x scale-up.
  */
class PlanAuditSpec extends SparkTestBase {

  private def physical(q: String, s: org.apache.spark.sql.SparkSession = spark): String = {
    // other suites cache these tables; cached plans replace FileSourceScan
    // with InMemoryTableScan and would hide the scan-level assertions
    spark.catalog.clearCache()
    SparkEntry.queries(q)(s, sf).queryExecution.executedPlan.toString
  }

  /** Untruncated pushed-filter metadata of every parquet scan in the plan
    * (descending through the AQE wrapper, which collect() treats as a leaf).
    */
  private def pushedFilters(q: String): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    spark.catalog.clearCache()
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f.metadata.getOrElse("PushedFilters", ""))
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    scans(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan).mkString(";")
  }

  test("filters are pushed into the parquet scan") {
    val pf = pushedFilters("q_filter_compare")
    assert(pf.contains("IsNotNull"), "no pushed filters in scan")
    assert(pf.contains("GreaterThanOrEqual(l_quantity,10.0)"), s"comparison not pushed: $pf")
    assert(pf.contains("EqualTo(l_returnflag,A)"), s"equality not pushed: $pf")
  }

  test("projection prunes the read schema to selected columns") {
    val p = physical("q_projection")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>"),
      s"customer scan reads more than the 3 projected columns:\n$p")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    assert(physical("q_join_inner", distributed).contains("BroadcastHashJoin"))
    val multi = physical("q_join_multi", distributed)
    assert("BroadcastHashJoin".r.findAllIn(multi).size == 3,
      "star join should be three chained broadcast hash joins")
    assert(!multi.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("sort+limit lowers to TakeOrderedAndProject (no global sort)") {
    val p = physical("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "top-k did a full sort")
  }

  test("aggregation is partial (map-side combine) before the shuffle") {
    val p = physical("q_agg_groupby")
    assert(p.contains("partial_sum"), "no partial aggregation below exchange")
    assert(p.contains("partial_count"))
  }

  test("events scan still prunes columns through the ns-timestamp rewrite") {
    val p = physical("q_json_fns")
    assert(p.contains("ReadSchema: struct<event_id:bigint,props:string>"),
      s"events scan reads more than needed:\n$p")
  }

  test("TPC-H Q5 star: lineitem never shuffles; all dims broadcast") {
    val p = physical("q_tpch_q5", distributed)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected >=4 broadcast joins in Q5:\n$p")
    assert(!p.contains("SortMergeJoin"), "Q5 fell back to a shuffle join")
    assert(p.contains("partial_sum"), "Q5 aggregation not partial")
  }

  test("TPC-H Q6 pushes every predicate into the scan") {
    val pf = pushedFilters("q_tpch_q6")
    assert(pf.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate lower bound not pushed: $pf")
    assert(pf.contains("LessThan(l_quantity,24.0)"), s"quantity bound not pushed: $pf")
  }

  test("cosine knn broadcasts the query side, not the corpus") {
    val p = physical("q_embed_knn")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LessThan(vec_id,5)"), "query-side filter not pushed")
  }

  test("native as-of join lowers to the custom merge exec, no nested loop") {
    val p = physical("q_asof_native", distributed)
    assert(p.contains("AsOfJoin"), s"custom operator missing from plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "as-of fell back to a nested loop")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"more than one exchange per side:\n$p")
  }

  test("band join is a hash equi-join on (key, cell), not a nested loop") {
    val p = physical("q_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"band join fell back to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"band join is not an equi-join:\n$p")
  }

  test("Q17 decorrelates: per-part aggregate joined back, no per-row re-scan") {
    val p = physical("q_tpch_q17")
    // the correlated scalar subquery must lower to an aggregate + join
    assert(p.contains("HashAggregate"), s"no aggregate for the subquery:\n$p")
    assert(!p.toLowerCase.contains("scalar-subquery"),
      s"scalar subquery survived to the physical plan (not decorrelated):\n$p")
    // lineitem is scanned a bounded number of times (outer + subquery),
    // not once per part
    assert("Scan parquet".r.findAllIn(p).size <= 3, s"too many scans:\n$p")
  }

  test("Q18 aggregates the fact side BEFORE joining (having-then-join)") {
    val p = physical("q_tpch_q18")
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0)
    // in Spark's plan string the deepest operators print last; the
    // grouped-lineitem aggregate must sit below (after) the joins
    assert(p.lastIndexOf("HashAggregate") > joinIdx,
      s"lineitem aggregate does not feed the join:\n$p")
  }

  test("Q22 anti-join: broadcast threshold, no cartesian") {
    val p = physical("q_tpch_q22")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not lower to anti-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar-threshold crossJoin became a cartesian product:\n$p")
  }

  test("decontamination joins on hashed grams, documents never shuffle") {
    val p = physical("q_decontaminate")
    // the gram join and the id anti-join are equi-joins (hash/SMJ), never
    // a nested loop over documents
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decontamination fell back to a nested loop:\n$p")
    assert(p.contains("LeftAnti"), s"no anti-join in decontamination plan:\n$p")
  }

  test("kmeans step: partial aggregation below the (cell, dim) exchange") {
    val p = physical("q_kmeans_step")
    // map-side combine of the constant-buffer VecMoments aggregate (the
    // earlier sum-based shape showed partial_sum; the udaf shows its own
    // partial_ prefix)
    assert(p.contains("partial_"), s"no map-side combine in kmeans step:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assignment should be broadcast literals, not a join:\n$p")
  }

  test("Q7 carries no user broadcast hint on SF-scaling dims") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    spark.catalog.clearCache()
    val analyzed = SparkEntry.queries("q_tpch_q7")(spark, sf).queryExecution.analyzed
    val hintedCols = analyzed.collect { case h: ResolvedHint => h }
      .flatMap(_.output.map(_.name))
    // customer/supplier grow with SF — a forced hint would OOM the build
    // side at 100x; only the fixed-25-row nation dim may carry one
    assert(!hintedCols.exists(c => c.startsWith("c_") || c.startsWith("s_")),
      s"SF-scaling table under a broadcast hint: $hintedCols")
    assert(hintedCols.exists(_.startsWith("n_")),
      s"nation should keep its broadcast hint: $hintedCols")
  }

  test("Q19's hand-factored union bound lands in both parquet scans") {
    val pf = pushedFilters("q_tpch_q19")
    assert(pf.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      pf.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"lineitem union bound not pushed: $pf")
    assert(pf.contains("LessThanOrEqual(p_size,35)"),
      s"part union bound not pushed: $pf")
    assert(pf.contains("In(p_brand"), s"brand IN-list not pushed: $pf")
  }

  test("BM25 top-k lowers to TakeOrderedAndProject (no global sort)") {
    val p = physical("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k lowering:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort in top-k:\n$p")
  }

  test("two-phase global rank never uses an unpartitioned window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: (w.children ++ w.subqueries).flatMap(windows)
      case other => (other.children ++ other.subqueries).flatMap(windows)
    }
    Seq("q_window_analytics", "q_pack_global", "q_dup_spans").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val ws = windows(plan)
      assert(ws.nonEmpty, s"expected a chunk-partitioned window in $q")
      assert(ws.forall(_.partitionSpec.nonEmpty),
        s"unpartitioned window survived in $q:\n$plan")
    }
  }

  test("CMS lookup broadcasts the sketch side; top-k lowers to TakeOrdered") {
    val p = physical("q_cms_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"the depth×width sketch table must broadcast, never shuffle the probe side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"CMS lookup fell back to SMJ:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 did a global sort:\n$p")
  }

  test("priority sampling is TakeOrdered + broadcast tau (no data shuffle)") {
    val p = physical("q_sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-(k+1) selection must be a partial top-k, not a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"full sort crept in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"tau must join as a broadcast scalar:\n$p")
  }

  test("two-stage distinct count plans no Expand and keeps partial aggregation") {
    val p = physical("q_count_distinct_2stage")
    assert(!p.contains("Expand"),
      s"two-stage distinct must not use the Expand-based distinct aggregate:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("semantic decontamination broadcasts the benchmark side") {
    val p = physical("q_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cosine semi-join should nest-loop against the broadcast benchmark:\n$p")
    assert(p.contains("LeftAnti"), s"no id anti-join:\n$p")
  }

  test("runtime bloom filter prunes the probe side of a selective SMJ") {
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val confs = Seq(
      // force a shuffle join (broadcast joins don't need the runtime filter)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // our test tables are tiny; drop the size gates so the rule fires
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.t(spark, sf, "lineitem")
      val plan = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected on the probe side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("manual bloom join filters the fact scan BEFORE the join") {
    val plan = physical("q_bloom_join").toLowerCase
    assert(plan.contains("bloommightcontain"),
      s"bloom predicate missing from the fact side:\n$plan")
  }

  test("scd2 shuffles once: both windows share one hash partitioning") {
    val plan = physical("q_scd2", distributed)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected 1 keyed shuffle for both stacked windows, got $hashExchanges:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).size >= 2, s"expected 2 window nodes:\n$plan")
  }

  test("fuzzy dictionary join is a hash equi-join on the block, never cartesian") {
    val plan = physical("q_fuzzy_names")
    assert(!plan.contains("CartesianProduct"), s"cartesian in fuzzy join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in fuzzy join (blocking key not used as equi-key):\n$plan")
  }

  test("heavy hitters candidate pass aggregates partially (mergeable sketch)") {
    // the q_heavy_hitters builder runs its sketch pass eagerly, so audit
    // the MG aggregate's own plan: typed Aggregator state ->
    // ObjectHashAggregate with a partial stage below the merge stage
    import org.apache.spark.sql.functions.{col, explode, lower, split, udaf}
    spark.catalog.clearCache()
    val mg = udaf(new graft.functions.Aggregators.MisraGries(64))
    val items = Tables.t(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("key"))
    val plan = items.agg(mg(col("key"))).queryExecution.executedPlan.toString
    val stages = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(stages >= 2,
      s"MG pass should plan partial+final object aggregates, got $stages:\n$plan")
  }

  test("grouped top-k plans as partial object aggregates, never a window sort") {
    val p = physical("q_topk_grouped")
    assert(!p.contains("Window"),
      s"grouped top-k must not fall back to a per-group window sort:\n$p")
    val stages = "ObjectHashAggregate".r.findAllIn(p).size
    assert(stages >= 2,
      s"TopKPairs should plan partial+final object aggregates, got $stages:\n$p")
  }

  test("upsert plans as anti-join + union, no window or global sort of base") {
    val plan = physical("q_upsert", distributed)
    assert(plan.contains("LeftAnti"), s"anti-join missing:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in upsert:\n$plan")
    // exactly ONE range exchange: the query's own final orderBy — any
    // second one means the merge itself started globally sorting the base
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(rangeExchanges == 1,
      s"expected only the result-ordering range exchange, got $rangeExchanges:\n$plan")
  }
}
