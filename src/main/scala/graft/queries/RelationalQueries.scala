package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.{t, views}

/** Top-level so Catalyst-generated deserializers can instantiate them. */
case class Cust(c_custkey: Long, c_name: String, c_acctbal: Double)
case class CustSummary(id: Long, tier: String, bal_cents: Long)

/** The declared-but-rejected reference surface (SURVEY.md §2.2, M2):
  * aggregates (reference AggregateFunction node, logicalplan.rs:73-80, is
  * hard-rejected at :88), scalar functions (ScalarFunction node with zero
  * registry, logicalplan.rs:64-71), joins (no join variant in the algebra),
  * set ops / CTEs / subqueries / CASE / IN / BETWEEN / LIKE (rejection sites
  * queryplanner.rs:39-47,66,69,157), window functions, rollup/cube, pivot.
  *
  * Scale posture: dimension sides of joins are broadcast; aggregations are
  * partial (map-side combine) by construction; sort+limit top-k lowers to
  * TakeOrderedAndProject. Float aggregates go through exact integer
  * arithmetic (cents) so results are order-independent — which is both the
  * determinism story for the oracle and the right answer at 1000 executors.
  */
object RelationalQueries {

  private val unbounded = Window.unboundedPreceding

  val all: Seq[Q] = Seq(

    // ---- aggregates -----------------------------------------------------

    Q("q_agg_global",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
             |FROM lineitem""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          countDistinct(col("l_returnflag")).as("n_flags"))),

    // TPC-H Q1 shape; revenue summed as exact cents (order-independent).
    Q("q_agg_groupby",
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents,
             |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("price_cents"),
            avg(col("l_quantity").cast("long")).as("avg_qty"))
          .orderBy("l_returnflag", "l_linestatus")),

    Q("q_agg_having",
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders
             |GROUP BY o_orderpriority HAVING count(*) > 100
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .filter(col("n") > 100)
          .orderBy("o_orderpriority")),

    // Sample stddev/variance; rounded to 6dp to absorb the (tiny)
    // accumulation-order sensitivity of streaming moment updates.
    Q("q_agg_stats",
      Some("""SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS sd,
             |  round(var_samp(l_quantity), 6) AS vr
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(stddev_samp(col("l_quantity")), 6).as("sd"),
            round(var_samp(col("l_quantity")), 6).as("vr"))
          .orderBy("l_returnflag")),

    // HyperLogLog distinct-count — no ANSI equivalent, rows-only check
    // (terminal rows-only set: SURVEY.md §2.3.1).
    Q("q_approx_distinct", None,
      (s, d) =>
        t(s, d, "lineitem").agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"))),

    Q("q_distinct",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").select("l_returnflag", "l_linestatus")
          .distinct().orderBy("l_returnflag", "l_linestatus")),

    Q("q_rollup",
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    Q("q_cube",
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- joins ----------------------------------------------------------

    // Fact x dim: customer scales with SF, so no forced broadcast hint —
    // the planner/AQE picks broadcast while the dim fits the threshold and
    // degrades to a shuffle join instead of OOMing at 100x.
    Q("q_join_inner",
      Some("""SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |WHERE o.o_totalprice > 400000
             |ORDER BY o.o_orderkey""".stripMargin),
      (s, d) =>
        t(s, d, "orders").as("o")
          .filter(col("o_totalprice") > 400000)
          .join(t(s, d, "customer").as("c"),
            col("o.o_custkey") === col("c.c_custkey"), "inner")
          .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
          .orderBy("o_orderkey")),

    Q("q_join_left",
      Some("""SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
             |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
             |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin),
      (s, d) =>
        t(s, d, "customer").as("c")
          .join(t(s, d, "orders").as("o"),
            col("o.o_custkey") === col("c.c_custkey"), "left")
          .groupBy(col("c.c_custkey"))
          .agg(count(col("o.o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")),

    // EXISTS == left-semi: customer survives once however many orders hit.
    Q("q_join_semi",
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "orders").filter(col("o_totalprice") > 450000),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")),

    Q("q_join_anti",
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) =>
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey")
          .orderBy("c_custkey")),

    // Full outer join: unmatched rows survive on BOTH sides (customers
    // without a big order keep a null right; big-order custkeys outside
    // the customer subset keep a null left). Coalesced key restores a
    // total order for the hash compare.
    Q("q_join_full",
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100),
             |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 450000)
             |SELECT coalesce(c.c_custkey, o.o_custkey) AS k, c.c_name,
             |  (o.o_custkey IS NOT NULL) AS has_big
             |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
             |ORDER BY k""".stripMargin),
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_custkey") < 100)
          .select("c_custkey", "c_name")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 450000)
          .select("o_custkey").distinct()
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
            col("c_name"), col("o_custkey").isNotNull.as("has_big"))
          .orderBy("k")
      }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys match
    // each other instead of dropping out — the SQL semantics corner the
    // reference's Eq operator never had to decide.
    Q("q_join_nullsafe",
      Some("""WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
             |          FROM customer WHERE c_custkey < 200),
             |s AS (SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg2 FROM customer)
             |SELECT c.c_custkey, coalesce(s.seg2, 'NULLSEG') AS matched
             |FROM c JOIN s ON c.seg IS NOT DISTINCT FROM s.seg2
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_custkey") < 200)
          .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        val segs = t(s, d, "customer")
          .select(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg2")).distinct()
        c.join(segs, col("seg") <=> col("seg2"))
          .select(col("c_custkey"), coalesce(col("seg2"), lit("NULLSEG")).as("matched"))
          .orderBy("c_custkey")
      }),

    // Star join: fact + three dims, aggregated in exact cents. Hints only
    // on the fixed-cardinality dims (nation 25 rows, region 5); customer
    // grows with SF, so its broadcast is the planner's call.
    Q("q_join_multi",
      Some("""SELECT r.r_name, n.n_name, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM orders o
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin),
      (s, d) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))
          .orderBy("r_name", "n_name")),

    // Non-equi join against a tiny inline band table -> broadcast
    // nested-loop, the right plan when one side is a handful of rows.
    Q("q_range_join",
      Some("""SELECT b.band_name, CAST(count(*) AS BIGINT) AS n FROM lineitem l
             |JOIN (VALUES ('low', 1, 10), ('mid', 10, 25), ('high', 25, 51))
             |  b(band_name, lo, hi)
             |ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
             |GROUP BY b.band_name ORDER BY b.band_name""".stripMargin),
      (s, d) => {
        import s.implicits._
        val bands = Seq(("low", 1.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 51.0))
          .toDF("band_name", "lo", "hi")
        t(s, d, "lineitem")
          .join(broadcast(bands),
            col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
          .groupBy("band_name").agg(count(lit(1)).as("n"))
          .orderBy("band_name")
      }),

    // ---- set operations -------------------------------------------------

    Q("q_union",
      Some("""SELECT c_custkey AS id FROM customer WHERE c_acctbal > 9000
             |UNION
             |SELECT o_custkey AS id FROM orders WHERE o_totalprice > 500000
             |ORDER BY id""".stripMargin),
      (s, d) =>
        t(s, d, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_custkey").as("id"))
          .union(t(s, d, "orders").filter(col("o_totalprice") > 500000)
            .select(col("o_custkey").as("id")))
          .distinct()
          .orderBy("id")),

    Q("q_intersect",
      Some("""SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
             |INTERSECT
             |SELECT o_custkey AS id FROM orders WHERE o_totalprice > 400000
             |ORDER BY id""".stripMargin),
      (s, d) =>
        t(s, d, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("id"))
          .intersect(t(s, d, "orders").filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("id")))
          .orderBy("id")),

    Q("q_except",
      Some("""SELECT c_custkey AS id FROM customer
             |EXCEPT
             |SELECT o_custkey AS id FROM orders WHERE o_totalprice > 300000
             |ORDER BY id""".stripMargin),
      (s, d) =>
        t(s, d, "customer").select(col("c_custkey").as("id"))
          .except(t(s, d, "orders").filter(col("o_totalprice") > 300000)
            .select(col("o_custkey").as("id")))
          .orderBy("id")),

    // Typed Dataset[T] pipeline: case-class encoders, typed filter + map.
    // The relational filter stays BEFORE .as[T] so pushdown still reaches
    // the scan; the typed map is an opaque lambda to Catalyst (that's the
    // documented trade-off of the typed API — use it for logic that truly
    // needs Scala, not for predicates).
    Q("q_typed",
      Some("""SELECT c_custkey AS id,
             |  CASE WHEN c_acctbal > 5000 THEN 'high' ELSE 'low' END AS tier,
             |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
             |FROM customer WHERE c_acctbal > 0 ORDER BY id""".stripMargin),
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .filter(col("c_acctbal") > 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .as[Cust]
          .map(c => CustSummary(c.c_custkey,
            if (c.c_acctbal > 5000) "high" else "low",
            math.round(c.c_acctbal * 100)))
          .toDF()
          .orderBy("id")
      }),

    // Multiset (ALL) set-op semantics: duplicates preserved by count.
    Q("q_setops_all",
      Some("""SELECT id, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT l_orderkey AS id FROM lineitem WHERE l_orderkey < 100
             |  INTERSECT ALL
             |  SELECT l_orderkey AS id FROM lineitem WHERE l_quantity > 10)
             |GROUP BY id ORDER BY id""".stripMargin),
      (s, d) => {
        val li = t(s, d, "lineitem")
        li.filter(col("l_orderkey") < 100).select(col("l_orderkey").as("id"))
          .intersectAll(li.filter(col("l_quantity") > 10)
            .select(col("l_orderkey").as("id")))
          .groupBy("id").agg(count(lit(1)).as("n"))
          .orderBy("id")
      }),

    // Schema-evolution-tolerant union: align by column NAME, null-fill
    // missing columns (the ingestion reality of batch v1 + batch v2).
    Q("q_union_byname",
      Some("""SELECT * FROM (
             |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal FROM customer WHERE c_custkey < 50
             |  UNION ALL BY NAME
             |  SELECT s_name AS name, s_suppkey + 100000 AS id FROM supplier)
             |ORDER BY id""".stripMargin),
      (s, d) => {
        val a = t(s, d, "customer").filter(col("c_custkey") < 50)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").as("bal"))
        val b = t(s, d, "supplier")
          .select(col("s_name").as("name"), (col("s_suppkey") + 100000).as("id"))
        a.unionByName(b, allowMissingColumns = true).orderBy("id")
      }),

    // ---- window functions ----------------------------------------------

    Q("q_window_rank",
      Some("""SELECT * FROM (
             |  SELECT c_nationkey, c_custkey,
             |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn,
             |    CAST(rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
             |    CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk
             |  FROM customer) WHERE rn <= 3
             |ORDER BY c_nationkey, rn""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, d, "customer")
          .select(col("c_nationkey"), col("c_custkey"),
            row_number().over(w).cast("long").as("rn"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"))
          .filter(col("rn") <= 3)
          .orderBy("c_nationkey", "rn")
      }),

    // Running sum in exact cents: order-independent AND overflow-safe.
    Q("q_window_running",
      Some("""SELECT user_id, event_id,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
             |FROM events WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(unbounded, Window.currentRow)
        t(s, d, "events").filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"),
            sum(round(col("value") * 100, 0).cast("long")).over(w).as("run_cents"))
          .orderBy("user_id", "event_id")
      }),

    Q("q_window_lag_lead",
      Some("""SELECT user_id, event_id,
             |  lag(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
             |  lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
             |FROM events WHERE user_id < 5 ORDER BY user_id, event_id""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events").filter(col("user_id") < 5)
          .select(col("user_id"), col("event_id"),
            lag(col("event_id"), 1).over(w).as("prev_id"),
            lead(col("event_id"), 1).over(w).as("next_id"))
          .orderBy("user_id", "event_id")
      }),

    // RANGE frame over a day offset: count of this customer's orders in the
    // trailing 30 days. Frame depends only on the day value -> deterministic
    // under ties.
    Q("q_window_range",
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(count(*) OVER (PARTITION BY o_custkey
             |    ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
             |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_30d
             |FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("day")).rangeBetween(-30, 0)
        t(s, d, "orders").filter(col("o_custkey") < 50)
          .withColumn("day", datediff(col("o_orderdate"), to_date(lit("1990-01-01"))))
          .select(col("o_custkey"), col("o_orderkey"),
            count(lit(1)).over(w).as("n_last_30d"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // ---- top-k ----------------------------------------------------------

    Q("q_topk",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, d) =>
        t(s, d, "orders").select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)),

    // ---- scalar functions ----------------------------------------------

    Q("q_str_fns",
      Some("""SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
             |  substr(c_name, 1, 8) AS pre, CAST(length(c_name) AS BIGINT) AS len,
             |  concat(c_mktsegment, '_', c_name) AS cc,
             |  replace(c_name, 'Customer', 'Cust') AS rep
             |FROM customer ORDER BY c_custkey""".stripMargin),
      (s, d) =>
        t(s, d, "customer").select(col("c_custkey"),
          upper(col("c_name")).as("up"), lower(col("c_mktsegment")).as("lo"),
          substring(col("c_name"), 1, 8).as("pre"),
          length(col("c_name")).cast("long").as("len"),
          concat(col("c_mktsegment"), lit("_"), col("c_name")).as("cc"),
          regexp_replace(col("c_name"), "Customer", "Cust").as("rep"))
          .orderBy("c_custkey")),

    Q("q_date_fns",
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CAST(day(o_orderdate) AS BIGINT) AS dy,
             |  date_trunc('month', o_orderdate) AS mon_start,
             |  o_orderdate + INTERVAL 30 DAY AS plus30
             |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin),
      (s, d) =>
        t(s, d, "orders").filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"),
            dayofmonth(col("o_orderdate")).cast("long").as("dy"),
            date_trunc("month", col("o_orderdate")).as("mon_start"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"))
          .orderBy("o_orderkey")),

    // Transcendentals rounded to 6dp (libm last-ulp differences between
    // engines); sqrt/abs/fmod/floor/ceil are IEEE-exact, left raw.
    Q("q_math_fns",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  abs(l_discount - 0.05) AS ad,
             |  CAST(floor(l_quantity / 7) AS BIGINT) AS fl,
             |  CAST(ceil(l_quantity / 7) AS BIGINT) AS ce,
             |  sqrt(l_quantity) AS sq, round(ln(l_extendedprice), 6) AS lg,
             |  fmod(l_quantity, 7) AS md
             |FROM lineitem WHERE l_orderkey < 300
             |ORDER BY l_orderkey, l_linenumber, l_quantity, ad, lg""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").filter(col("l_orderkey") < 300)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            abs(col("l_discount") - 0.05).as("ad"),
            floor(col("l_quantity") / 7).as("fl"),
            ceil(col("l_quantity") / 7).as("ce"),
            sqrt(col("l_quantity")).as("sq"),
            round(log(col("l_extendedprice")), 6).as("lg"),
            (col("l_quantity") % 7).as("md"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "ad", "lg")),

    // ---- rejected-SQL-surface extensions (queryplanner.rs:157) ----------

    Q("q_case_in_between_like",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
             |       ELSE 'high' END AS band,
             |  l_returnflag IN ('A', 'R') AS flagged,
             |  l_quantity BETWEEN 10 AND 20 AS mid_range,
             |  l_returnflag LIKE 'A%' AS alike
             |FROM lineitem WHERE l_orderkey < 300
             |ORDER BY l_orderkey, l_linenumber, l_quantity, band""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").filter(col("l_orderkey") < 300)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            when(col("l_quantity") < 10, "low")
              .when(col("l_quantity") < 30, "mid").otherwise("high").as("band"),
            col("l_returnflag").isin("A", "R").as("flagged"),
            col("l_quantity").between(10, 20).as("mid_range"),
            col("l_returnflag").like("A%").as("alike"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "band")),

    // CTE + correlated-free scalar subquery, through the SQL entry point.
    Q("q_subquery_cte",
      Some("""WITH big AS (
             |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders
             |  WHERE o_totalprice > 300000 GROUP BY o_custkey)
             |SELECT c.c_custkey, b.n FROM customer c
             |JOIN big b ON c.c_custkey = b.o_custkey
             |WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
             |ORDER BY c.c_custkey""".stripMargin),
      (s, d) => {
        views(s, d, "orders", "customer")
        s.sql("""WITH big AS (
                |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders
                |  WHERE o_totalprice > 300000 GROUP BY o_custkey)
                |SELECT c.c_custkey, b.n FROM customer c
                |JOIN big b ON c.c_custkey = b.o_custkey
                |WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
                |ORDER BY c.c_custkey""".stripMargin)
      }),

    // LATERAL correlated subquery: per-customer top-2 orders — the
    // "top-N per group" shape as the planner feature (decorrelates to a
    // ranked window under the hood), rejected wholesale by the reference
    // (/root/reference/src/planner/queryplanner.rs:66).
    Q("q_lateral",
      Some("""SELECT c.c_custkey, t.o_orderkey,
             |  CAST(round(t.o_totalprice * 100, 0) AS BIGINT) AS price_cents
             |FROM customer c, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
             |WHERE c.c_custkey < 50
             |ORDER BY c_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        views(s, d, "orders", "customer")
        s.sql("""SELECT c.c_custkey, t.o_orderkey,
                |  CAST(round(t.o_totalprice * 100, 0) AS BIGINT) AS price_cents
                |FROM customer c, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM orders
                |  WHERE o_custkey = c.c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
                |WHERE c.c_custkey < 50
                |ORDER BY c_custkey, o_orderkey""".stripMargin)
      }),

    // Pivot: nation x market segment counts (missing combos coalesced to 0
    // to match conditional-aggregation SQL).
    Q("q_pivot",
      Some("""SELECT c_nationkey,
             |  CAST(count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS automobile,
             |  CAST(count(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS BIGINT) AS building,
             |  CAST(count(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS BIGINT) AS furniture,
             |  CAST(count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS BIGINT) AS household,
             |  CAST(count(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS BIGINT) AS machinery
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      (s, d) => {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        t(s, d, "customer")
          .groupBy("c_nationkey")
          .pivot("c_mktsegment", segs)
          .agg(count(lit(1)))
          .select(col("c_nationkey") +:
            segs.map(sg => coalesce(col(s"`$sg`"), lit(0L)).as(sg.toLowerCase)): _*)
          .orderBy("c_nationkey")
      }),

    // Generator / UNNEST: token explosion + refold.
    Q("q_explode",
      Some("""SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
             |  WHERE doc_id < 20)
             |GROUP BY doc_id, tok ORDER BY doc_id, tok""".stripMargin),
      (s, d) =>
        t(s, d, "documents").filter(col("doc_id") < 20)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
          .orderBy("doc_id", "tok")),

    Q("q_json_fns",
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
             |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin),
      (s, d) =>
        t(s, d, "events").filter(col("event_id") < 100)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id")),

    // Salted skew join: same rows as the plain equi-join (the oracle), but
    // the hot key's rows are spread over saltFactor tasks. The remedy for
    // a pathological key (a default id owning 30% of a 100 TB fact table)
    // that AQE's split can't fully absorb.
    Q("q_skew_join",
      Some("""SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment AS segment
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |ORDER BY o.o_orderkey, o.o_custkey, segment""".stripMargin),
      (s, d) => {
        val big = t(s, d, "orders").select("o_orderkey", "o_custkey")
        val small = t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment"))
        graft.operators.SkewJoin.saltedJoin(big, small, "o_custkey", saltFactor = 8)
          .select("o_orderkey", "o_custkey", "segment")
          .orderBy("o_orderkey", "o_custkey", "segment")
      }),

    // Observability: CollectMetrics counters ride the existing pass (no
    // second scan). The data is unchanged by observe, so the result stays
    // oracle-checkable while the plan carries the metrics node.
    Q("q_observe",
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_acctbal > 1000 ORDER BY c_custkey""".stripMargin),
      (s, d) =>
        graft.operators.Metrics.observeQuality(
            t(s, d, "customer").filter(col("c_acctbal") > 1000),
            "q_observe_quality", "c_mktsegment", "c_acctbal")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")),

    // Writer surface: partitioned parquet output + bounded file sizes, then
    // a read-back aggregate (the oracle sees the original table — the
    // round-trip must be lossless). partitionBy(lang) is the 100 TB output
    // contract: consumers prune by partition directory; maxRecordsPerFile
    // bounds file sizes without an extra repartition pass.
    Q("q_write_partitioned",
      Some("""SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
      (s, d) => {
        // Stable-within-run dir + overwrite mode: reruns replace instead
        // of leaking a fresh temp directory per invocation (plan-only
        // callers like ExplainDump included); unique across runs and
        // removed at JVM exit.
        val out = ScratchDirs.forRun(s, "write_partitioned")
        t(s, d, "documents")
          .write.mode("overwrite")
          .partitionBy("lang")
          .option("maxRecordsPerFile", 200)
          .parquet(out)
        Tables.parquet(s, out)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang", "source")
      }),

    // Format matrix round-trip: the same projection written as JSON, CSV
    // and ORC through GraftSources, read back and unioned — the oracle is
    // 3x the original per-source counts, so any row lost or duplicated by
    // a writer/reader pair breaks the hash. Only the string column rides
    // the formats (schema inference differs per format by design).
    Q("q_multiformat",
      Some("""SELECT source, CAST(count(*) * 3 AS BIGINT) AS n
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        // per-run + per-input-dir path: concurrent runs (even on the same
        // SF) must not race between one run's write and another's
        // read-back; the run-scoped root is removed at JVM exit
        val base = ScratchDirs.forRun(s, "multiformat") +
          "/" + math.abs(d.hashCode).toString
        graft.sources.GraftSources.writeJson(docs, base + "/json")
        graft.sources.GraftSources.writeCsv(docs, base + "/csv")
        graft.sources.GraftSources.writeOrc(docs, base + "/orc")
        val j = graft.sources.GraftSources.readJson(s, base + "/json").select("source")
        val c = graft.sources.GraftSources.readCsv(s, base + "/csv").select("source")
        val o = graft.sources.GraftSources.readOrc(s, base + "/orc").select("source")
        j.unionByName(c).unionByName(o)
          .groupBy("source").agg(count(lit(1)).as("n"))
          .orderBy("source")
      }),

    // Bucketed writer: the co-location contract for repeated joins/aggs on
    // one key at 100 TB — pay the shuffle once at write time, then every
    // bucketed join/agg on o_custkey skips its exchange. Oracled on a
    // read-back aggregate (bucketing must be transparent to results);
    // SourcesSpec asserts the exchange-free join plan.
    Q("q_write_bucketed",
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val table = "graft_orders_bucketed"
        s.sql(s"DROP TABLE IF EXISTS $table")
        // A prior JVM's orphaned warehouse dir blocks saveAsTable(Overwrite).
        // The warehouse location is session-dependent — derive it from conf
        // rather than assuming any fixed path.
        val warehouse = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        val dir = new java.io.File(warehouse, table)
        if (dir.exists()) {
          import scala.reflect.io.Directory
          new Directory(dir).deleteRecursively()
        }
        graft.sources.GraftSources.writeBucketed(
          t(s, d, "orders"), table, "o_custkey", 8, Some("o_custkey"))
        s.table(table)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))
          .orderBy("o_orderpriority")
      })
  )
}
