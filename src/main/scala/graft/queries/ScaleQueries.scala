package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.{t, tFan}
import graft.operators._

/** Round-5 scale-surface queries: operators whose value IS their 100 TB
  * shape — sketch-based semi-join reduction, bounded-memory heavy hitters,
  * semantic (embedding-space) dedup, Z-order layout, time-bucketed
  * windows, TF-IDF retrieval scoring, and result pagination.
  *
  * All are north-star extensions; none have any trace in the reference
  * (its algebra is scan/filter/project/sort/limit only,
  * /root/reference/src/planner/logicalplan.rs:207-273).
  */
object ScaleQueries {

  private val tfidfTerms = Seq("dup", "vector", "scan")

  import Money.cents

  /** DuckDB bit-arithmetic mirror of ZOrder2: interleave the low 16 bits
    * of x (even positions) and y (odd positions), generated as 32 shifted
    * terms over BIGINTs.
    */
  private def zorderSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val all: Seq[Q] = Seq(

    // Bloom-filter semi-join reduction: the fact side is pre-filtered by a
    // compact sketch of the dim side's keys BEFORE any shuffle; the exact
    // join then removes the sketch's false positives, so the result equals
    // the plain join (the oracle) while the shuffled volume shrinks to
    // candidates only — the manual form of AQE's runtime filters.
    Q("q_bloom_join",
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > CAST(5000 AS DOUBLE)
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
      (s, d) => {
        val dim = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000.0)
          .select("c_custkey")
        BloomJoin.reduceThenJoin(
            t(s, d, "orders"), "o_custkey", dim, "c_custkey", fpp = 0.01)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("total_cents"))
          .orderBy("o_custkey")
      }),

    // Key-skew diagnostics, the measurement behind the salting decision:
    // exact hottest-key profile (partial-aggregable count, top-N lowered
    // to TakeOrderedAndProject, integer ppm shares) ...
    Q("q_skew_profile",
      Some("""WITH c AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS nrows FROM lineitem)
             |SELECT k, cnt, CAST(cnt * 1000000 // nrows AS BIGINT) AS share_ppm
             |FROM c, t ORDER BY cnt DESC, k LIMIT 20""".stripMargin),
      (s, d) =>
        SkewStats.keyProfile(
            t(s, d, "lineitem").select(col("l_suppkey").as("k")), "k", 20)),

    // ... and the one-row summary whose hot_salt = ceil(max_cnt * P /
    // n_rows) is the SkewJoin salt factor for P reducers (all-integer).
    Q("q_skew_summary",
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1)
             |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(max(cnt) AS BIGINT) AS max_cnt,
             |  CAST((max(cnt) * 32 + sum(cnt) - 1) // sum(cnt) AS BIGINT) AS hot_salt
             |FROM c""".stripMargin),
      (s, d) =>
        SkewStats.summary(t(s, d, "events"), "user_id", partitions = 32)),

    // Grouped top-k via the merge-able TopKPairs sketch: "keep the 3
    // longest documents per source" with bounded k-pair buffers that
    // reduce map-side, so the shuffle carries <= k pairs per (group, map
    // task). A window rank computes the same answer but shuffles and
    // per-group-sorts EVERY row — this is the grouped top-k shape that
    // survives 100 TB. Oracle = the window-rank formulation (doc_id is
    // the deterministic tie-break on both sides).
    Q("q_topk_grouped",
      Some("""SELECT source, doc_id, n_chars FROM (
             |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             |    row_number() OVER (PARTITION BY source
             |                       ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) WHERE rn <= 3
             |ORDER BY source, doc_id, n_chars""".stripMargin),
      (s, d) => {
        val topk = udaf(new graft.functions.Aggregators.TopKPairs(3))
        t(s, d, "documents")
          .groupBy("source")
          .agg(topk(col("n_chars").cast("long"), col("doc_id").cast("long"))
            .as("tk"))
          .select(col("source"), explode(col("tk")).as("p"))
          .select(col("source"), col("p._2").as("doc_id"),
            col("p._1").as("n_chars"))
          .orderBy("source", "doc_id", "n_chars")
      }),

    // TF-IDF scoring of the corpus against a fixed term set — same
    // shuffle-free shape as BM25 (per-term tf columns + one broadcast
    // stats aggregate), the pre-BM25 classic weighting.
    Q("q_tfidf",
      Some({
        val in = tfidfTerms.map("'" + _ + "'").mkString(", ")
        s"""WITH base AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM base),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, unnest(toks) AS term FROM base)
           |  WHERE term IN ($in) GROUP BY doc_id, term),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |scored AS (SELECT tf.doc_id, CAST(sum(CAST(round(
           |    tf * ln(n_docs / df) * CAST(1e6 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS score_micro
           |  FROM tf JOIN df USING (term) CROSS JOIN stats
           |  GROUP BY tf.doc_id)
           |SELECT doc_id, score_micro FROM scored ORDER BY doc_id""".stripMargin
      }),
      (s, d) =>
        Bm25.tfIdfMicros(t(s, d, "documents"), "doc_id", col("text"), tfidfTerms)
          .orderBy("doc_id")),

    // Exact heavy hitters (tokens with frequency >= N/200) by Misra-Gries
    // sketch-then-verify: pass 1 shuffles only constant-size counter maps,
    // pass 2 exact-counts the bounded candidate set via broadcast join.
    // The integer share comparison (cnt * 200 >= N) avoids float ceil.
    Q("q_heavy_hitters",
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(lower(text), ' ')) AS key FROM documents),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
             |SELECT key, CAST(count(*) AS BIGINT) AS cnt
             |FROM toks CROSS JOIN tot
             |GROUP BY key, n HAVING count(*) * 200 >= n
             |ORDER BY key""".stripMargin),
      (s, d) =>
        HeavyHitters.exactByShare(
          t(s, d, "documents")
            .select(explode(split(lower(col("text")), " ")).as("key")),
          col("key"), share = 200L, capacity = 1024)),

    // SemDeDup-style semantic dedup: nearest-centroid cells (centroids =
    // the first 8 embeddings — a fixed deterministic codebook, as with
    // q_kmeans_step), cosine-similar pairs confined to cells, larger id of
    // each >= 0.45 pair dropped. Survivors with their cell id.
    Q("q_dedup_semantic",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT vec_id, cid FROM (
             |  SELECT e.vec_id, c.cid,
             |    row_number() OVER (PARTITION BY e.vec_id
             |      ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
             |  FROM e CROSS JOIN c) WHERE rn = 1),
             |j AS (SELECT e.vec_id, a.cid, e.v FROM e JOIN a USING (vec_id)),
             |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
             |  FROM j x JOIN j y ON x.cid = y.cid AND x.vec_id < y.vec_id
             |  WHERE list_cosine_similarity(x.v, y.v) >= CAST(0.45 AS DOUBLE))
             |SELECT vec_id, cid AS cluster FROM a
             |WHERE vec_id NOT IN (SELECT id_b FROM p)
             |ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val e = t(s, d, "embeddings")
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        Dedup.semanticDedup(e, "vec_id", "embedding", centroids, "cid", "cvec",
            tau = 0.45)
          .select(col("id").as("vec_id"), col("cluster"))
          .orderBy("vec_id")
      }),

    // Z-order (Morton) interleave of two dimensions — the multi-dim
    // layout key: sorting by z clusters rows so scans filtered on EITHER
    // dimension skip most files. Oracle recomputes the interleave with 32
    // explicit bit terms.
    Q("q_zorder",
      Some(s"""WITH b AS (SELECT p_partkey, p_partkey % 65536 AS x,
              |    CAST(p_size AS BIGINT) AS y FROM part)
              |SELECT p_partkey, CAST(${zorderSql("x", "y")} AS BIGINT) AS z
              |FROM b ORDER BY z, p_partkey""".stripMargin),
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            graft.functions.zorder2(
              (col("p_partkey") % 65536).cast("int"),
              col("p_size")).as("z"))
          .orderBy("z", "p_partkey")),

    // Tumbling 1-hour event-time windows via Spark's window() — the batch
    // form of the streaming group-by-window; oracle = date_trunc buckets.
    Q("q_window_tumbling",
      Some("""SELECT date_trunc('hour', ts) AS win_start, event_type,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events GROUP BY 1, 2
             |ORDER BY win_start, event_type""".stripMargin),
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(cents(col("value"))).as("value_cents"))
          .select(col("window.start").as("win_start"), col("event_type"),
            col("n_events"), col("value_cents"))
          .orderBy("win_start", "event_type")),

    // Hopping windows (1 hour every 30 min): each event lands in exactly
    // two windows; the oracle materializes both aligned starts per event
    // in integer microseconds.
    Q("q_window_hopping",
      Some("""WITH w AS (SELECT
             |    unnest([(epoch_us(ts) // 1800000000) * 1800000000 - 1800000000,
             |            (epoch_us(ts) // 1800000000) * 1800000000]) AS ws,
             |    value FROM events)
             |SELECT make_timestamp(ws) AS win_start,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM w GROUP BY ws ORDER BY win_start""".stripMargin),
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            sum(cents(col("value"))).as("value_cents"))
          .select(col("window.start").as("win_start"),
            col("n_events"), col("value_cents"))
          .orderBy("win_start")),

    // Order-independent table checksum — the migration validator: md5 row
    // digests summed mod 2^62 per group; two engines agree on content iff
    // these longs agree, with no sort and no row transfer. The oracle IS
    // the second engine here, so the match demonstrates the cross-engine
    // contract itself.
    Q("q_table_checksum",
      Some("""WITH canon AS (SELECT l_returnflag,
             |    concat(
             |      coalesce(CAST(length(CAST(l_orderkey AS VARCHAR)) AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR), '-'),
             |      coalesce(CAST(length(CAST(l_linenumber AS VARCHAR)) AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR), '-'),
             |      coalesce(CAST(length(CAST(l_suppkey AS VARCHAR)) AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR), '-'),
             |      coalesce(CAST(length(l_returnflag) AS VARCHAR) || ':' || l_returnflag, '-'),
             |      coalesce(CAST(length(l_linestatus) AS VARCHAR) || ':' || l_linestatus, '-'),
             |      coalesce(CAST(length(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR)) AS VARCHAR) || ':' || CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR), '-')
             |    ) AS s FROM lineitem)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT))
             |    % 4611686018427387904 AS BIGINT) AS checksum
             |FROM canon GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        val li = tFan(s, d, "lineitem")
        Checksum.grouped(li, Seq(col("l_returnflag")), Seq(
            col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
            col("l_suppkey").cast("string"), col("l_returnflag"),
            col("l_linestatus"), cents(col("l_extendedprice")).cast("string")))
          .orderBy("l_returnflag")
      }),

    // Z-ordered write: range-partition on the Morton key and sort within
    // partitions before writing, so every parquet file covers a tight
    // z-range — min/max row-group stats then prune scans filtered on
    // EITHER dimension. Oracled on a lossless read-back aggregate.
    Q("q_write_zordered",
      Some("""SELECT p_size, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
             |FROM part WHERE p_size <= 10 GROUP BY p_size ORDER BY p_size""".stripMargin),
      (s, d) => {
        val out = ScratchDirs.forRun(s, "write_zordered")
        t(s, d, "part")
          .withColumn("z", graft.functions.zorder2(
            (col("p_partkey") % 65536).cast("int"), col("p_size")))
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions("z")
          .drop("z")
          .write.mode("overwrite").parquet(out)
        Tables.parquet(s, out)
          .filter(col("p_size") <= 10)
          .groupBy("p_size")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("p_retailprice"))).as("price_cents"))
          .orderBy("p_size")
      }),

    // Schema evolution: two parquet generations (v2 adds a column), read
    // through mergeSchema — the long-lived-dataset contract: old files
    // keep working, the new column is null there. The oracle's doubled
    // counts + v2-only column stats break if either generation is lost
    // or the merge misaligns columns.
    Q("q_schema_evolution",
      Some("""SELECT source, CAST(count(*) * 2 AS BIGINT) AS n,
             |  CAST(count(*) AS BIGINT) AS n_with_chars,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => {
        val base = ScratchDirs.forRun(s, "schema_evo")
        val docs = t(s, d, "documents")
        docs.select("doc_id", "source")
          .write.mode("overwrite").parquet(base + "/gen=1")
        docs.select("doc_id", "source", "n_chars")
          .write.mode("overwrite").parquet(base + "/gen=2")
        s.read.option("mergeSchema", "true")
          .parquet(base + "/gen=1", base + "/gen=2")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      }),

    // Curriculum binning: exact global deciles of the corpus by a quality
    // proxy (n_chars), then per-bucket stats — the data-mixing prep step
    // ("train on the top-k deciles first"). Global rank comes from the
    // two-phase GlobalRank (range-chunked local row_number + broadcast
    // offsets), NEVER a single-partition ntile window; the oracle's
    // unpartitioned ntile is exactly what must not run at 100 TB.
    Q("q_curriculum",
      Some("""WITH ranked AS (
             |  SELECT n_chars,
             |    ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
             |  FROM documents)
             |SELECT CAST(decile AS BIGINT) AS decile,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM ranked GROUP BY decile ORDER BY decile""".stripMargin),
      (s, d) =>
        GlobalRank.withNtile(
            t(s, d, "documents").select("doc_id", "n_chars"),
            col("n_chars"), Seq(col("n_chars"), col("doc_id")),
            k = 10, bucketCol = "decile", chunks = 32)
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), min("n_chars").as("min_chars"),
            max("n_chars").as("max_chars"),
            sum("n_chars").cast("long").as("sum_chars"))
          .orderBy("decile")),

    // Explicit cross join (the one join form not yet a row of its own):
    // fixed-cardinality dimensions only — a cartesian is a deliberate
    // tool for tiny tables (parameter grids, calendar spines), never for
    // SF-scaling inputs.
    Q("q_join_cross",
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin),
      (s, d) =>
        t(s, d, "region").select("r_name")
          .crossJoin(t(s, d, "nation").select("n_name"))
          .orderBy("r_name", "n_name")),

    // OFFSET pagination — the clause the reference's planner rejects
    // outright ("Offset is currently not supported",
    // /root/reference/src/planner/queryplanner.rs:66-69). Deterministic
    // page: unique sort key, skip 117, take 42.
    Q("q_offset",
      Some("""SELECT o_orderkey, o_orderstatus,
             |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
             |FROM orders ORDER BY o_orderkey LIMIT 42 OFFSET 117""".stripMargin),
      (s, d) =>
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("price_cents"))
          .orderBy("o_orderkey")
          .offset(117)
          .limit(42)),

    // PageRank power iteration over the customer↔supplier trade graph —
    // the iterative-fixpoint class (each round: edges ⋈ ranks, then a
    // partial-aggregated groupBy(dst); no driver state, no collect).
    // Ranks are exact integer micros with truncating division only, so
    // the 3-iteration trajectory is partitioning-invariant and the
    // DuckDB oracle re-derives it as an unrolled CTE chain — the same
    // trick that oracles q_kmeans_step and q_coreset.
    Q("q_pagerank", {
      val steps = (1 to 3).map { k =>
        s"r$k AS (${PageRank.stepSql(s"r${k - 1}")})"
      }.mkString(",\n")
      Some(s"""WITH cs AS (
              |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              |e0 AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
              |e AS (SELECT e0.src, e0.dst, d.outdeg FROM e0
              |      JOIN (SELECT src, COUNT(*) AS outdeg FROM e0 GROUP BY src) d
              |      ON e0.src = d.src),
              |v AS (SELECT src AS vertex FROM e0 UNION SELECT dst FROM e0),
              |r0 AS (SELECT vertex, CAST(1000000 AS BIGINT) AS rank FROM v),
              |$steps
              |SELECT vertex, CAST(rank AS BIGINT) AS rank_micros
              |FROM r3 ORDER BY vertex""".stripMargin)
    },
      (s, d) => {
        // Dedup the NARROW INT pairs before the string build (r21,
        // guide §2.3 "narrower types"): the old shape unioned both
        // string directions first and let ranks() distinct 2|cs| string
        // rows; distinct (custkey, suppkey) longs is half the rows at a
        // fraction of the bytes, and both directions of a distinct pair
        // set are distinct by construction ('c'/'s' prefixes are
        // disjoint), so ranks() skips its own distinct
        // (edgesDistinct = true). Same edge set, same trajectory.
        val cs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
          .distinct()
        val edges = cs.select(concat(lit("c"), col("ck")).as("src"),
            concat(lit("s"), col("sk")).as("dst"))
          .union(cs.select(concat(lit("s"), col("sk")).as("src"),
            concat(lit("c"), col("ck")).as("dst")))
        PageRank.ranks(edges, "src", "dst", iterations = 3,
            edgesDistinct = true)
          .orderBy("vertex")
      })
  )
}
