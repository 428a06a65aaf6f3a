package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t

/** TPC-H-shaped headline queries (Q1/Q3/Q5/Q6 adapted to this star
  * schema's columns and 1995-2001 date range) — the canonical OLAP
  * workload shapes: wide aggregation, join + top-k, 6-way star join,
  * selective scan-aggregate. Money aggregates run in exact integer cents
  * (order-independent; derived averages divide the exact sums), per the
  * determinism rules in FIXTURES.md §5.
  */
object TpchQueries {

  import Money.cents

  val all: Seq[Q] = Seq(

    // Q1: pricing summary report.
    Q("q_tpch_q1",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
             |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax")))).as("sum_charge_cents"),
            avg(col("l_quantity").cast("long")).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")),

    // Q3: shipping-priority — join + aggregate + top-10.
    Q("q_tpch_q3",
      Some("""SELECT o.o_orderkey,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  o.o_orderdate
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |WHERE c.c_mktsegment = 'BUILDING'
             |  AND o.o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
             |  AND l.l_shipdate > TIMESTAMP '2000-03-15 00:00:00'
             |GROUP BY o.o_orderkey, o.o_orderdate
             |ORDER BY revenue_cents DESC, o.o_orderkey LIMIT 10""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("2000-03-15 00:00:00").cast("timestamp"))
          .join(t(s, d, "orders")
            .filter(col("o_orderdate") < lit("2000-03-15 00:00:00").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy("o_orderkey", "o_orderdate")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .select("o_orderkey", "revenue_cents", "o_orderdate")
          .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
          .limit(10)),

    // Q5: local-supplier volume — 6-way star join, customer and supplier
    // in the same nation, region-filtered.
    Q("q_tpch_q5",
      Some("""SELECT n.n_name,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN supplier sp ON l.l_suppkey = sp.s_suppkey AND c.c_nationkey = sp.s_nationkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = 'ASIA'
             |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, d, "supplier"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy("n_name")),

    // Q6: revenue-change forecast — selective scan-aggregate, fully
    // pushdown-able predicates.
    Q("q_tpch_q6",
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"))),

    // Q4: order-priority checking — EXISTS lowers to a left-semi join with a
    // mixed equi + range condition (this schema has no l_commitdate, so
    // "shipped after the order date" stands in for late delivery).
    Q("q_tpch_q4",
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
             |FROM orders o
             |WHERE o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
             |  AND o.o_orderdate < TIMESTAMP '2000-04-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) =>
        t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("2000-04-01 00:00:00").cast("timestamp"))
          .join(t(s, d, "lineitem"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")),

    // Q10: returned-item reporting — fact filter + three-way star, top 20.
    Q("q_tpch_q10",
      Some("""SELECT c.c_custkey, c.c_name, n.n_name,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer c
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE l.l_returnflag = 'R'
             |  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
             |  AND o.o_orderdate < TIMESTAMP '2000-07-01 00:00:00'
             |GROUP BY c.c_custkey, c.c_name, n.n_name
             |ORDER BY revenue_cents DESC, c.c_custkey LIMIT 20""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("2000-07-01 00:00:00").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)),

    // Q14: promo-revenue share — fact/dim join over one shipdate month;
    // this part table has no PROMO types, so ECONOMY stands in. Both sides
    // of the would-be ratio emitted as exact cents (a double division would
    // be summation-order-sensitive).
    Q("q_tpch_q14",
      Some("""SELECT
             |  CAST(sum(CASE WHEN p.p_type = 'ECONOMY' THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS economy_cents,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |WHERE l.l_shipdate >= TIMESTAMP '2000-09-01 00:00:00'
             |  AND l.l_shipdate < TIMESTAMP '2000-10-01 00:00:00'""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("2000-09-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("2000-10-01 00:00:00").cast("timestamp"))
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "ECONOMY",
              cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .otherwise(lit(0L))).as("economy_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("total_cents"))),

    // Q13: customer order-count distribution — LEFT OUTER join with a
    // join-side predicate (customers with zero qualifying orders must
    // survive with c_count = 0), then a re-aggregation on the outer side.
    // This schema has no o_comment, so the priority anti-filter stands in
    // for TPC-H's NOT LIKE '%special%requests%'. At scale: one shuffle for
    // the outer join + per-customer count, then a tiny re-agg on c_count
    // (cardinality <= max orders per customer) — no broadcast needed on
    // the fact side, and the second aggregate is effectively free.
    Q("q_tpch_q13",
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
             |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
             |  FROM customer c LEFT OUTER JOIN orders o
             |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
             |  GROUP BY c.c_custkey) t
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
      (s, d) =>
        t(s, d, "customer").select("c_custkey")
          .join(t(s, d, "orders")
              .filter(col("o_orderpriority") =!= "1-URGENT")
              .select("o_custkey", "o_orderkey"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)),

    // Q18: large-volume customers — HAVING on a grouped fact, then joins
    // back to orders/customer. The aggregate-then-join order is the scale
    // point: the HAVING filter reduces the fact side to ~1% before any
    // join, so the join input is tiny instead of the full lineitem.
    Q("q_tpch_q18",
      Some("""SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             |  CAST(big.sum_qty AS BIGINT) AS sum_qty
             |FROM (SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING sum(CAST(l_quantity AS BIGINT)) > 250) big
             |JOIN orders o ON o.o_orderkey = big.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |ORDER BY sum_qty DESC, o.o_orderkey""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 250)
          .join(t(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(t(s, d, "customer"), col("c_custkey") === col("o_custkey"))
          .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "sum_qty")
          .orderBy(col("sum_qty").desc, col("o_orderkey"))),

    // Q22: global-sales-opportunity — scalar AVG subquery threshold +
    // NOT EXISTS anti-join, grouped on the outer side (nationkey stands in
    // for Q22's phone country code; "no urgent orders" for "no orders",
    // which this synthetic data never has). Anti-join + broadcast scalar:
    // the customer side shuffles once, orders reduce to distinct urgent
    // custkeys.
    Q("q_tpch_q22",
      Some("""WITH a AS (SELECT avg(c_acctbal) AS thr FROM customer WHERE c_acctbal > 0)
             |SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
             |  CAST(sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS totacctbal_cents
             |FROM customer c, a
             |WHERE c.c_acctbal > a.thr
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin),
      (s, d) => {
        val cust = t(s, d, "customer")
        val thr = cust.filter(col("c_acctbal") > 0)
          .agg(avg(col("c_acctbal")).as("thr"))
        cust.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("thr"))
          .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"),
            sum(cents(col("c_acctbal"))).as("totacctbal_cents"))
          .orderBy("c_nationkey")
      }),

    // Q7: volume shipping between two nations — star join with a symmetric
    // cross-filter (either trade direction) and a year rollup. Only the
    // fixed-25-row nation dim carries a broadcast hint; customer/supplier
    // grow with SF, so their join strategy is left to the planner/AQE
    // (broadcast while small, shuffle join at scale — never an OOM'ing
    // forced build side).
    Q("q_tpch_q7",
      Some("""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem l
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
             |JOIN nation ns ON ns.n_nationkey = sp.s_nationkey
             |JOIN nation nc ON nc.n_nationkey = c.c_nationkey
             |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
             |    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
             |GROUP BY ns.n_name, nc.n_name, CAST(year(l.l_shipdate) AS INTEGER)
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
      (s, d) => {
        val nations = broadcast(t(s, d, "nation")
          .filter(col("n_name").isin("NATION_1", "NATION_2")))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
          .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(nations.select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation")),
            col("s_nationkey") === col("ns_key"))
          .join(nations.select(col("n_nationkey").as("nc_key"), col("n_name").as("cust_nation")),
            col("c_nationkey") === col("nc_key"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .withColumn("l_year", year(col("l_shipdate")))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      }),

    // Q8: national market share — conditional aggregation over a 7-way
    // star (the widest join in the corpus). Share numerator/denominator
    // emitted as exact cents, not a double ratio (summation-order rule).
    // Hints only on nation/region; SF-scaling dims are planner-chosen.
    Q("q_tpch_q8",
      Some("""SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             |  CAST(sum(CASE WHEN ns.n_name = 'NATION_5' THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS nation_cents,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
             |JOIN nation ns ON ns.n_nationkey = sp.s_nationkey
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |JOIN nation nc ON nc.n_nationkey = c.c_nationkey
             |JOIN region r ON r.r_regionkey = nc.n_regionkey
             |WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
             |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY CAST(year(o.o_orderdate) AS INTEGER) ORDER BY o_year""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "part").filter(col("p_type") === "PROMO")
            .select("p_partkey"), col("l_partkey") === col("p_partkey"))
          .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("ns_key"))
          .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
            .select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey").as("nc_key"), col("n_regionkey").as("nc_region"))),
            col("c_nationkey") === col("nc_key"))
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "AMERICA")
            .select("r_regionkey")), col("nc_region") === col("r_regionkey"))
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy("o_year")
          .agg(
            sum(when(col("supp_nation") === "NATION_5",
              cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .otherwise(lit(0L))).as("nation_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("total_cents"))
          .orderBy("o_year")),

    // Q12: shipping-mode late-line counts — join + dual conditional
    // counts. This schema has no l_shipmode/l_receiptdate, so the return
    // flag stands in for ship mode and "shipped >60 days after the order
    // date" for late receipt; the shape (fact-fact join, CASE-sum pivoted
    // on a priority class) is Q12's.
    Q("q_tpch_q12",
      Some("""SELECT l.l_returnflag,
             |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             |WHERE l.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
             |  AND l.l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
             |  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
             |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),
      (s, d) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("2000-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("2001-01-01 00:00:00").cast("timestamp"))
          .join(t(s, d, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy("l_returnflag")
          .agg(
            sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
          .orderBy("l_returnflag")
      }),

    // Q15: top supplier — an aggregate view consumed twice (revenue per
    // supplier, then the max of that), the filter-by-scalar-max shape.
    // The scalar max is broadcast into the filter, so there is exactly one
    // fact aggregate and no global sort; re-aggregating the tiny grouped
    // result for the max is free at any scale.
    Q("q_tpch_q15",
      Some("""WITH revenue AS (
             |  SELECT l_suppkey AS supplier_no,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s.s_suppkey, s.s_name, r.total_cents
             |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
             |WHERE r.total_cents = (SELECT max(total_cents) FROM revenue)
             |ORDER BY s.s_suppkey""".stripMargin),
      (s, d) => {
        // revenue feeds both the scalar max and the filter; self-derived
        // frames get fresh exprIds, which defeats ReuseExchange (verified:
        // two hashpartitioning(l_suppkey) exchanges in the executed plan),
        // so the grouped result — supplier-cardinality, tiny next to the
        // fact — is persisted across its two consumers and released once
        // the top suppliers (a few rows) are collected.
        Persisted.collect(t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("total_cents"))) { revenue =>
          val top = revenue.agg(max(col("total_cents")).as("m"))
          revenue.crossJoin(broadcast(top))
            .filter(col("total_cents") === col("m"))
            .join(t(s, d, "supplier"),
              col("supplier_no") === col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_cents")
            .orderBy("s_suppkey")
        }
      }),

    // Q19: discounted revenue — disjunctive (OR-of-ANDs) brand/size/
    // quantity predicates. The per-clause conjuncts can only be evaluated
    // post-join, but their union bound (l_quantity <= 30, p_size <= 35)
    // is added explicitly on each scan — the pushdown a user would expect
    // from OR-factoring, done by hand since Catalyst does not factor
    // disjunctions across tables.
    Q("q_tpch_q19",
      Some("""SELECT
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  CAST(count(*) AS BIGINT) AS n_lines
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
             |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
             |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin),
      (s, d) => {
        val clause =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30))
        t(s, d, "lineitem")
          .filter(col("l_quantity").between(1, 30)) // union bound → parquet scan
          .join(t(s, d, "part")
            .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
              col("p_size").between(1, 35)),
            col("l_partkey") === col("p_partkey"))
          .filter(clause)
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"),
            count(lit(1)).as("n_lines"))
      }),

    // Q21: suppliers who kept waiting — the EXISTS / NOT-EXISTS double
    // correlation, rewritten into ONE grouped pass over the fact join:
    // per finished order, min/max supplier key (distinct-supplier test
    // without a distinct aggregate), min/max LATE supplier key (the
    // "exactly one late supplier" test), and the count of late lines.
    // A qualifying order has min_s <> max_s (another supplier exists) and
    // min_ls == max_ls non-null (exactly one late supplier); since that
    // supplier is unique, every late line of the order is theirs, so its
    // numwait contribution is n_late_lines. All five aggregates are
    // map-side combinable — one shuffle of (orderkey, 5 longs), no
    // Expand, and the lineitem x orders join is computed exactly once
    // (the round-3 version referenced it twice).
    // The oracle keeps the literal EXISTS form (DuckDB decorrelates it).
    Q("q_tpch_q21",
      Some("""SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
             |FROM supplier s
             |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
             |JOIN orders o ON o.o_orderkey = l1.l_orderkey
             |WHERE o.o_orderstatus = 'F'
             |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20""".stripMargin),
      (s, d) => {
        val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
        t(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey")
          .agg(
            min(col("l_suppkey")).as("min_s"),
            max(col("l_suppkey")).as("max_s"),
            min(when(late, col("l_suppkey"))).as("min_ls"),
            max(when(late, col("l_suppkey"))).as("max_ls"),
            sum(when(late, 1L).otherwise(0L)).as("n_late_lines"))
          .filter(col("min_s") =!= col("max_s") &&
            col("min_ls").isNotNull && col("min_ls") === col("max_ls"))
          .join(t(s, d, "supplier").select("s_suppkey", "s_name"),
            col("min_ls") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(sum(col("n_late_lines")).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      }),

    // Q17: small-quantity-order revenue — correlated scalar subquery
    // (per-part average quantity threshold). Written as SQL so Catalyst's
    // decorrelation (RewriteCorrelatedScalarSubquery) produces the plan a
    // user's query would get: the subquery becomes an aggregate joined
    // back on p_partkey, not a per-row re-scan. Exact cents for the sum.
    Q("q_tpch_q17",
      Some("""SELECT CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
             |  CAST(count(*) AS BIGINT) AS n_items
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE p.p_size <= 5
             |  AND l.l_quantity < (
             |    SELECT CAST(0.5 AS DOUBLE) * avg(l2.l_quantity)
             |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin),
      (s, d) => {
        graft.Tables.views(s, d, "lineitem", "part")
        s.sql("""SELECT CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                |  CAST(count(*) AS BIGINT) AS n_items
                |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
                |WHERE p.p_size <= 5
                |  AND l.l_quantity < (
                |    SELECT CAST(0.5 AS DOUBLE) * avg(l2.l_quantity)
                |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
      }),

    // Q2: minimum-cost supplier — correlated min over a dimension. This
    // schema has no partsupp, so lineitem is the part-supplier bridge and
    // l_extendedprice stands in for ps_supplycost: for each small part,
    // the EUROPE suppliers whose offer price equals the per-part minimum.
    // The oracle keeps the literal correlated-scalar form (DuckDB
    // decorrelates); Spark computes the per-part min with a PARTITIONED
    // window over p_partkey — one keyed shuffle, no second scan of the
    // offers subtree and no global sort. Prices compare as exact cents.
    Q("q_tpch_q2",
      Some("""WITH offers AS (
             |  SELECT DISTINCT p.p_partkey, s.s_name,
             |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS price_cents
             |  FROM lineitem l
             |  JOIN part p ON p.p_partkey = l.l_partkey
             |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |  JOIN nation n ON n.n_nationkey = s.s_nationkey
             |  JOIN region r ON r.r_regionkey = n.n_regionkey
             |  WHERE r.r_name = 'EUROPE' AND p.p_size <= 5)
             |SELECT p_partkey, s_name, price_cents FROM offers o
             |WHERE price_cents = (SELECT min(price_cents) FROM offers o2
             |                     WHERE o2.p_partkey = o.p_partkey)
             |ORDER BY p_partkey, s_name""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val euroSupp = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name")
        val offers = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            cents(col("l_extendedprice")).as("price_cents"))
          .join(t(s, d, "part").filter(col("p_size") <= 5).select("p_partkey"),
            col("l_partkey") === col("p_partkey"))
          .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
          .select("p_partkey", "s_name", "price_cents")
          .distinct()
        offers
          .withColumn("min_cents",
            min(col("price_cents")).over(Window.partitionBy("p_partkey")))
          .filter(col("price_cents") === col("min_cents"))
          .select("p_partkey", "s_name", "price_cents")
          .orderBy("p_partkey", "s_name")
      }),

    // Q9: product-type profit rollup — the multi-fact star (lineitem +
    // part-name filter + supplier nation + order year) grouped on two
    // derived dims. This schema has no partsupp/supplycost, so profit is
    // the discounted revenue (the plan shape — 4 joins feeding one
    // two-key rollup — is Q9's). Part filter rides a name LIKE, pushed
    // to the part scan; only nation carries a broadcast hint.
    Q("q_tpch_q9",
      Some("""SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS profit_cents
             |FROM lineitem l
             |JOIN part p ON p.p_partkey = l.l_partkey
             |JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |WHERE p.p_name LIKE '%gear%'
             |GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
             |ORDER BY nation, o_year""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "part").filter(col("p_name").like("%gear%"))
            .select("p_partkey"), col("l_partkey") === col("p_partkey"))
          .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("profit_cents"))
          .orderBy("nation", "o_year")),

    // Q11: important stock — group-by plus a GLOBAL scalar threshold over
    // the same aggregate (keep parts whose value exceeds a fraction of the
    // national total). lineitem stands in for partsupp; one grouped pass,
    // the total re-aggregated from the group result (tiny) and broadcast
    // into the filter — no second fact scan, no global sort.
    Q("q_tpch_q11",
      Some("""WITH v AS (
             |  SELECT l.l_partkey,
             |    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
             |  FROM lineitem l
             |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
             |  JOIN nation n ON n.n_nationkey = s.s_nationkey
             |  WHERE n.n_name = 'NATION_3'
             |  GROUP BY l.l_partkey),
             |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS t FROM v)
             |SELECT l_partkey, value_cents FROM v, tot
             |WHERE CAST(value_cents AS DOUBLE) > CAST(0.002 AS DOUBLE) * CAST(t AS DOUBLE)
             |ORDER BY value_cents DESC, l_partkey""".stripMargin),
      (s, d) => {
        // same double-consumer shape as Q15: persist the part-cardinality
        // grouped result so the fact join+aggregate runs once; each kept
        // part holds over 0.2% of the total, so at most 500 rows come back
        Persisted.collect(t(s, d, "lineitem")
          .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "nation")).filter(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("l_partkey")
          .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))) { v =>
          val tot = v.agg(sum(col("value_cents")).as("t"))
          v.crossJoin(broadcast(tot))
            .filter(col("value_cents").cast("double") >
              lit(0.002) * col("t").cast("double"))
            .select("l_partkey", "value_cents")
            .orderBy(col("value_cents").desc, col("l_partkey"))
        }
      }),

    // Q16: parts/supplier relationship — anti-join a supplier blocklist
    // BEFORE a grouped count-distinct. The anti-join ships only supplier
    // ids; the distinct count shuffles (brand, type, size, suppkey) —
    // the Q16 plan with lineitem standing in for partsupp.
    Q("q_tpch_q16",
      Some("""SELECT p.p_brand, p.p_type, p.p_size,
             |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE p.p_brand <> 'Brand#1'
             |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
             |  AND l.l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0003%')
             |GROUP BY p.p_brand, p.p_type, p.p_size
             |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin),
      (s, d) =>
        t(s, d, "lineitem").select("l_partkey", "l_suppkey")
          .join(t(s, d, "supplier").filter(col("s_name").like("%0003%"))
            .select("s_suppkey"), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(t(s, d, "part")
            .filter(col("p_brand") =!= "Brand#1" &&
              col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_type", "p_size"),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))),

    // Q20: potential part promotion — the nested semi-join chain (IN
    // inside IN): suppliers in a region who shipped a large quantity of
    // some PROMO part during 1997. partsupp/availqty don't exist here, so
    // the per-(supplier, part) shipped-quantity threshold stands in for
    // "availqty > half the year's shipments". Shape: innermost part
    // filter semi-joins the fact, a grouped HAVING reduces to qualifying
    // supplier ids, and supplier left-semi-joins that id set — each level
    // shuffles only keys, never the fact rows.
    Q("q_tpch_q20",
      Some("""SELECT s.s_name FROM supplier s
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = 'EUROPE' AND s.s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
             |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  GROUP BY l_suppkey, l_partkey
             |  HAVING sum(CAST(l_quantity AS BIGINT)) > 50)
             |ORDER BY s.s_name""".stripMargin),
      (s, d) => {
        val heavyShippers = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
          .join(t(s, d, "part").filter(col("p_type") === "PROMO").select("p_partkey"),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity").cast("long")).as("ship_qty"))
          .filter(col("ship_qty") > 50)
          .select("l_suppkey")
        t(s, d, "supplier")
          .join(heavyShippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_name")
          .orderBy("s_name")
      })
  )
}
