package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the third leg of the ANN stack next to
  * hyperplane LSH and IVF ([[Similarity]]): vectors compress to `m`
  * small codes (one per subspace), and queries rank candidates with
  * asymmetric distance (ADC) — a per-subspace table lookup instead of a
  * `dim`-wide float loop. The memory story is the point at 100 TB: a
  * 64-dim float vector is 256 bytes; its PQ code (m=8, ks=16) is 8 —
  * the corpus index fits in a fraction of the footprint and the scan
  * never touches raw vectors.
  *
  * Scale shape: codebooks are m·ks·(dim/m) doubles — KBs — trained by a
  * Lloyd step whose recompute is ONE aggregate keyed by (subspace,
  * cell) carrying exact integer micros (order-invariant at any
  * parallelism, the [[Similarity.kmeansStep]] recipe), then collected
  * under the bounded centroid-table contract (Similarity.scala).
  * Encoding and ADC are pure per-row expressions (array lookups are
  * O(1)); top-k lowers to a per-partition bounded heap + keyed finish.
  * Nothing about the corpus ever shuffles beyond (#queries × k) rows
  * per partition.
  *
  * Query surface (batch-native — a queries DataFrame, never a driver
  * loop):
  *  - [[adcTopKBatch]]: flat ADC — every query's m·ks lookup table is
  *    computed IN the plan from the literal codebooks, the (small) query
  *    side is broadcast, and one corpus-code scan serves the whole batch.
  *  - [[ivfPqTopK]]: the 100 TB layout — IVF coarse cells + PQ codes of
  *    the RESIDUAL (vec − cell centroid). Queries probe their nProbe
  *    nearest cells and the candidate generation is an equi-join on
  *    `cell`, so un-probed cells' codes are never ranked (and with the
  *    encoded index written partitioned by `cell`, never read).
  */
object Pq {

  /** Train per-subspace codebooks: seed with the `ks` subvectors of the
    * lowest-id corpus rows (deterministic, no RNG), then run one Lloyd
    * step with exact integer-micro accumulation so the result is
    * identical at any partitioning. Returns books[m][ks][dim/m]; empty
    * cells keep their seed. Accepts array<float> or array<double>.
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, scale: Long = 1000000L): Array[Array[Array[Double]]] =
    trainOn(corpus, idCol, col(vecCol).cast("array<double>"), dim, m, ks, scale)

  /** Codebooks for the IVF-PQ layout: trained on RESIDUALS
    * (vec − nearest coarse centroid), the quantity [[ivfPqTopK]] ranks.
    * Same one-scan exact-micro Lloyd step; the coarse assignment rides
    * the same scan as a per-row expression.
    */
  def trainResidualCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], m: Int, ks: Int,
      scale: Long = 1000000L): Array[Array[Array[Double]]] = {
    require(cents.nonEmpty, "no coarse centroids")
    val dim = cents(0).length
    // STAGE the residual behind a projection: trainOn references its vec
    // column ~2m times (per-subspace cell + micro slices), and inlining
    // the zip_with + nearestCell chain that many times makes the training
    // scan O(m·nCents·dim) per row instead of O(nCents·dim)
    // (measured 5.4 s -> ~0.6 s on 20k×64 at sf0.1).
    val staged = corpus.select(col(idCol),
      residualExpr(col(vecCol), cents).as("__rvec"))
    trainOn(staged, idCol, col("__rvec"), dim, m, ks, scale)
  }

  private def trainOn(corpus: DataFrame, idCol: String, vec: Column,
      dim: Int, m: Int, ks: Int, scale: Long): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val d0 = dim / m
    val seeds: Array[Array[Array[Double]]] = {
      val rows = corpus.orderBy(col(idCol)).limit(ks)
        .select(vec).collect()
        .map(_.getSeq[Double](0).toArray)
      require(rows.length == ks, s"need $ks seed vectors, corpus has ${rows.length}")
      Array.tabulate(m)(s => rows.map(_.slice(s * d0, (s + 1) * d0)))
    }
    def subvec(s: Int): Column =
      slice(vec, lit(s * d0 + 1), lit(d0))
    def cellOf(s: Int): Column = nearestCell(subvec(s), seeds(s))
    // ONE corpus scan: each row emits its m (subspace, cell,
    // micro-subvector) assignments via a per-row explode (small structs),
    // then one grouped aggregate with a constant-size mergeable buffer
    // per (s, cell). (A union of m per-subspace selects would scan the
    // corpus m times — measured 3x slower at sf1.)
    val assigned = corpus.select(explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), cellOf(s).as("cell"),
          VectorStats.microUnits(subvec(s), scale).as("mv"))
      }: _*)).as("e"))
      .select(col("e.s"), col("e.cell"), col("e.mv"))
    // VecSums, not VecMoments: codebook training never reads Σm².
    val agg = udaf(new VectorStats.VecSums(d0))
    val sums = assigned.groupBy("s", "cell").agg(agg(col("mv")).as("mo"))
      .select(col("s"), col("cell"), col("mo._1").as("n"), col("mo._2").as("sums"))
      .collect() // m*ks rows — bounded centroid-table contract
    val books = seeds.map(_.map(_.clone()))
    sums.foreach { r =>
      val (s, cell, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
      val sm = r.getSeq[Long](3)
      if (n > 0) books(s)(cell) =
        sm.map(x => x.toDouble / n / scale).toArray
    }
    books
  }

  /** Nearest-centroid argmin by (distance, index) — ONE definition
    * shared by training assignment, encoding, and the IVF coarse
    * quantizer: if the metric or tie-break ever changed in one but not
    * the other, training cells and codes would silently disagree and
    * recall would degrade with nothing pointing at the cause.
    */
  private def nearestCell(sub: Column, centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.euclidean_dist(sub, typedLit(c.toSeq)).as("d"),
        lit(i).as("i"))
    }: _*)).getField("i")

  /** vec − centroid[cell], with the coarse assignment inlined: a pure
    * per-row expression (the centroid table is a literal 2-D array).
    */
  private def residualExpr(vec: Column, cents: Array[Array[Double]]): Column = {
    val vecD = vec.cast("array<double>")
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    zip_with(vecD, element_at(centLit, nearestCell(vecD, cents) + 1),
      (a, b) => a - b)
  }

  /** PQ encode: array of `m` per-subspace nearest-centroid ids — a pure
    * per-row expression (no shuffle, rides the scan).
    */
  def encodeExpr(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val d0 = books(0)(0).length
    array((0 until m).map { s =>
      nearestCell(slice(vec.cast("array<double>"), lit(s * d0 + 1), lit(d0)), books(s))
    }: _*)
  }

  /** Per-query ADC lookup table, computed IN the plan: an m×ks array of
    * squared L2 distances between the query's s-th subvector and each
    * codeword. O(m·ks·d0) per QUERY row (≈1k flops at m=8/ks=16/d0=8) —
    * paid once per query, never per corpus code.
    */
  def lutExpr(qvec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val ks = books(0).length
    val d0 = books(0)(0).length
    val b = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq) // m × ks × d0
    val q = qvec.cast("array<double>")
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(sequence(lit(0), lit(ks - 1)), c =>
        aggregate(sequence(lit(0), lit(d0 - 1)), lit(0.0), (acc, i) => {
          val qi = element_at(q, s * lit(d0) + i + 1)
          val ci = element_at(element_at(element_at(b, s + 1), c + 1), i + 1)
          acc + (qi - ci) * (qi - ci)
        })))
  }

  /** Approximate distance of one code against a query's LUT: an O(m)
    * fold of O(1) lookups.
    */
  private[graft] def adcDist(lut: Column, code: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(element_at(lut, s + 1), element_at(code, s + 1) + 1))

  /** Batch flat-ADC top-k: ranks a QUERIES DATAFRAME against a
    * PQ-encoded corpus in one pass. Each query row carries its LUT
    * ([[lutExpr]]); the query side is broadcast; the corpus-code scan
    * happens ONCE for the whole batch; per-partition bounded heaps cap
    * the shuffle at (#queries × k) rows per partition
    * ([[Similarity.partialTopK]]). Self-pairs (same id) are excluded.
    * Returns (q_id, c_id, rn, adc_dist), k smallest by (adc_dist, c_id).
    */
  def adcTopKBatch(encoded: DataFrame, queries: DataFrame, idCol: String,
      codeCol: String, vecCol: String, books: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = books.length
    val q = queries.select(col(idCol).as("q_id"),
      lutExpr(col(vecCol), books).as("lut"))
    val scored = encoded.select(col(idCol).as("c_id"), col(codeCol).as("code"))
      .crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id").cast("long"), col("c_id").cast("long"),
        negate(adcDist(col("lut"), col("code"), m)).as("sim"))
      .as[Scored]
    Similarity.partialTopK(scored, k)
      .select(col("q_id"), col("c_id"), col("rn"), negate(col("sim")).as("adc_dist"))
  }

  /** Build the IVF-PQ index: every corpus row gets its coarse cell
    * (nearest centroid by L2) and the PQ code of its RESIDUAL. A pure
    * per-row projection — write this partitioned by `cell` and a query
    * never reads an un-probed cell's codes.
    */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]]): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    // staged projections: assign the cell once, subtract the centroid
    // once, THEN encode — encodeExpr slices its input m times, and each
    // stage's alias is an attribute (not a re-inlined expression chain)
    corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("cell", nearestCell(col("__v"), cents))
      .withColumn("__rvec",
        zip_with(col("__v"), element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .select(col(idCol), col("cell"),
        encodeExpr(col("__rvec"), books).as("pq_code"))
  }

  /** IVF-PQ batch top-k — the composed 100 TB ANN shape. Queries find
    * their nProbe nearest coarse cells; for EACH probed cell the query's
    * LUT is built from its residual against THAT cell's centroid (the
    * quantity the codes encode); candidates come from an EQUI-JOIN on
    * `cell` — no per-query full-code scan, no cross join. The probed
    * query side (#queries × nProbe rows, each with an m·ks LUT) is
    * broadcast. Returns (q_id, c_id, rn, adc_dist).
    */
  def ivfPqTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], k: Int, nProbe: Int = 4): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = books.length
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val vecD = col(vecCol).cast("array<double>")
    // nProbe nearest cells, ascending (d, cell): array_sort on structs
    val cellDists = array(cents.zipWithIndex.map { case (cv, i) =>
      struct(graft.functions.euclidean_dist(vecD, typedLit(cv.toSeq)).as("d"),
        lit(i).as("cell"))
    }: _*)
    val probed = queries
      .select(col(idCol).as("q_id"), vecD.as("q_vec"),
        explode(slice(array_sort(cellDists), 1, math.min(nProbe, cents.length)))
          .as("p"))
      .select(col("q_id"), col("p.cell").as("cell"),
        zip_with(col("q_vec"), element_at(centLit, col("p.cell") + 1),
          (a, b) => a - b).as("q_resid"))
      .select(col("q_id"), col("cell"),
        lutExpr(col("q_resid"), books).as("lut"))
    val scored = encoded.join(broadcast(probed), "cell")
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id").cast("long"), col(idCol).cast("long").as("c_id"),
        negate(adcDist(col("lut"), col("pq_code"), m)).as("sim"))
      .as[Scored]
    Similarity.partialTopK(scored, k)
      .select(col("q_id"), col("c_id"), col("rn"), negate(col("sim")).as("adc_dist"))
  }
}
