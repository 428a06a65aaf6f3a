package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>) — north-star surface, no reference trace.
  *
  * Two paths:
  *  - [[bruteForceKnn]]: exact. Corpus stays partitioned; the (small) query
  *    set is broadcast; scoring is a codegen'd cosine inside the scan
  *    stage; per-partition top-k pre-reduction bounds the shuffle to
  *    queries x k x partitions rows before the final global top-k. This is
  *    the right *exact* plan at any corpus size.
  *  - [[lshKnn]]: sub-linear candidate generation by random-hyperplane
  *    (sign) LSH — equi-join on bucket ids replaces the full scan per
  *    query, trading recall for throughput.
  */
/** Row shape for the knn scoring exchange (public: Spark codegen
  * instantiates it from generated deserializer code). */
case class Scored(q_id: Long, c_id: Long, sim: Double)

object Similarity {

  /** Exact top-k cosine neighbors of each query among the corpus.
    * Ties broken by ascending corpus id -> fully deterministic output.
    * Rows with a NULL vector (an embedding job's failed rows) are
    * excluded on both sides — cosine_sim would score them null, which
    * has no place in a top-k ordering (and fails the non-null scoring
    * row under Dataset encoding).
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .filter(col("q_vec").isNotNull)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .filter(col("c_vec").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id").cast("long"), col("c_id").cast("long"),
        cosine_sim(col("q_vec"), col("c_vec")).as("sim"))
      .as[Scored]
    partialTopK(scored, k)
  }

  /** Hard-negative mining — the contrastive-training data prep: for each
    * query, the k most-similar corpus vectors whose LABEL differs (the
    * confusable near-misses a dual encoder must learn to separate; same-
    * label neighbors are positives, not negatives). Identical scale shape
    * to [[bruteForceKnn]]: tiny query set broadcast, label filter rides
    * the scan BEFORE scoring, bounded per-partition heaps keep the
    * shuffle at #queries·k rows per partition.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_lab"))
      .filter(col("q_vec").isNotNull)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      col(labelCol).as("c_lab"))
      .filter(col("c_vec").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_lab") =!= col("q_lab"))
      .select(col("q_id").cast("long"), col("c_id").cast("long"),
        cosine_sim(col("q_vec"), col("c_vec")).as("sim"))
      .as[Scored]
    partialTopK(scored, k)
  }

  /** Partial top-k per partition, then global finish: a bounded heap per
    * query keeps the shuffle at (#queries * k) rows per partition
    * regardless of corpus size — the map-side-combine of top-k. Keeps the
    * k LARGEST `sim` per `q_id`, ties to the smaller `c_id`. Shared by
    * [[bruteForceKnn]] and the batch ADC path ([[Pq.adcTopKBatch]],
    * which negates distance into `sim`).
    */
  private[operators] def partialTopK(scored: Dataset[Scored], k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val partial = scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.PriorityQueue[Scored]]
      // min-heap by (sim asc, c_id desc): head is the weakest entry.
      val ord = Ordering.by[Scored, (Double, Long)](s => (-s.sim, s.c_id))
      it.foreach { s =>
        val h = heaps.getOrElseUpdate(s.q_id,
          scala.collection.mutable.PriorityQueue.empty[Scored](ord))
        if (h.size < k) h.enqueue(s)
        else {
          val w = h.head
          if (s.sim > w.sim || (s.sim == w.sim && s.c_id < w.c_id)) {
            h.dequeue(); h.enqueue(s)
          }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    partial.toDF()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "rn", "sim")
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64-derived, uniform in
    * [-1, 1]) — the coarse quantizer for sign-LSH over cosine space.
    */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i =>
        val bits = graft.functions.Hashing64.splitmix(seed + p.toLong * dim + i)
        bits.toDouble / Long.MaxValue.toDouble
      }
    }

  /** IVF-style ANN: a fixed coarse quantizer (first nCentroids corpus
    * vectors standing in for offline k-means centroids — deterministic, no
    * training pass) partitions the corpus into cells; queries probe their
    * nProbe nearest cells and rank exactly within them. The classic
    * inverted-file trade: assignment cost nCentroids*dim per row once,
    * query cost limited to probed cells instead of the full corpus.
    */
  /** Collect a (tiny) trained-centroid table to the driver: the IVF coarse
    * quantizer is nCentroids x dim doubles — a few KB — and becomes literal
    * expressions broadcast inside the scan. This is the legitimate driver
    * round-trip: at 100 TB the centroid table is the OUTPUT of a training
    * pass ([[kmeansStep]] iterations), not a corpus scan.
    */
  def centroidRows(centroids: DataFrame, cellCol: String, vecCol: String): Array[(Int, Seq[Float])] =
    centroids.select(col(cellCol).cast("int"), col(vecCol))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))

  /** [[ivfKnn]] with an explicit trained-centroid table (the scale path). */
  def ivfKnnWithCentroids(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: DataFrame, cellCol: String,
      centVecCol: String, nProbe: Int = 4): DataFrame =
    ivfKnnCore(corpus, queries, idCol, vecCol, k,
      centroidRows(centroids, cellCol, centVecCol), nProbe)

  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    // fixed coarse quantizer: first nCentroids corpus vectors stand in for
    // an offline-trained table (deterministic, no training pass)
    ivfKnnCore(corpus, queries, idCol, vecCol, k,
      centroidRows(corpus.filter(col(idCol) < nCentroids), idCol, vecCol), nProbe)

  private def cellScores(cents: Array[(Int, Seq[Float])])(vec: Column): Column =
    array(cents.map { case (cid, cv) =>
      struct(cosine_sim(vec, typedLit(cv)).as("sim"), lit(cid).as("cell"))
    }: _*)

  /** Coarse-cell assignment of a corpus under a centroid table: (c_id,
    * c_vec, cell) with cell = argmax cosine (ties -> larger cell id, the
    * array_max struct ordering). This IS the inverted-file build pass —
    * write its output partitioned by cell and you have an IVF-Flat index.
    */
  def ivfAssignCells(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Seq[Float])]): DataFrame = {
    require(cents.nonEmpty, "no centroid rows")
    corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      array_max(cellScores(cents)(col(vecCol))).getField("cell").as("cell"))
  }

  /** The probe half of IVF: route each query to its top-nProbe cells,
    * scan ONLY those cells' posting lists, exact-rescore, rank top-k.
    * `postings` = (c_id, c_vec, cell) — either [[ivfAssignCells]]' output
    * computed in-query, or a stored index read back from parquet.
    */
  private def ivfProbe(postings: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Array[(Int, Seq[Float])], nProbe: Int): DataFrame = {
    require(cents.nonEmpty, "no centroid rows")
    val qq = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        cellScores(cents)(col(vecCol)).as("cells"))
      .select(col("q_id"), col("q_vec"),
        explode(expr(s"transform(slice(sort_array(cells, false), 1, $nProbe), s -> s.cell)")).as("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    postings.join(qq, "cell")
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosine_sim(col("q_vec"), col("c_vec")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "rn", "sim")
  }

  /** Query a MATERIALIZED IVF-Flat index — the production split: the
    * index (trained centroid table + per-cell posting lists carrying the
    * vectors) is built ONCE offline; query time pays only centroid
    * routing (a tiny collect of the centroid table) plus a scan of the
    * probed cells' postings. With the postings parquet PARTITIONED BY
    * cell, the probe join's cell predicate prunes unprobed partitions at
    * the file listing — at 100 TB the query reads nProbe/nCells of the
    * index, never the corpus.
    */
  def ivfKnnFromIndex(postings: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: DataFrame, cellCol: String,
      centVecCol: String, nProbe: Int = 4): DataFrame =
    ivfProbe(
      postings.select(col("c_id"), col("c_vec"), col("cell")),
      queries, idCol, vecCol, k,
      centroidRows(centroids, cellCol, centVecCol), nProbe)

  private def ivfKnnCore(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Array[(Int, Seq[Float])], nProbe: Int): DataFrame =
    ivfProbe(ivfAssignCells(corpus, idCol, vecCol, cents),
      queries, idCol, vecCol, k, cents, nProbe)

  /** One Lloyd (k-means) iteration over an embedding column: assign every
    * vector to its max-cosine centroid (ties -> larger cell id, matching
    * array_max struct ordering), then re-accumulate each cell's centroid
    * numerators exactly.
    *
    * Scale shape: the centroid set is literal expressions broadcast into
    * the scan (no join); the recompute is ONE shuffle keyed by (cell, dim)
    * carrying exact integer micros, so the reduction is order-invariant
    * and deterministic at any parallelism — iterate this at 100 TB and
    * every pass is a single map + aggregate.
    *
    * Output: (cell, n_assigned, centroid array<double> of per-dim means).
    */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Seq[Float])]): DataFrame = {
    require(cents.nonEmpty, "no centroid rows")
    val dim = cents(0)._2.length
    def cellScores(vec: Column): Column = array(cents.map { case (cid, cv) =>
      struct(cosine_sim(vec, typedLit(cv)).as("sim"), lit(cid).as("cell"))
    }: _*)
    val assigned = corpus.select(
      array_max(cellScores(col(vecCol))).getField("cell").as("cell"),
      col(vecCol).as("vec"))
    // ONE grouped aggregate with a constant-size mergeable buffer per
    // cell (exact integer micros: floor is bit-stable on identical
    // doubles across engines, integer sums are order-invariant) — the
    // earlier (cell, dim) explode shape cost a dim× row blow-up and a
    // second shuffle for the same numbers.
    // VecSums, not VecMoments: the centroid recompute never reads Σm²,
    // so skip its overflow-spill machinery in this hot path.
    val agg = udaf(new VectorStats.VecSums(dim))
    assigned.groupBy("cell")
      .agg(agg(VectorStats.microUnits(col("vec"), 1000000L)).as("mo"))
      .select(col("cell"), col("mo._1").as("n_assigned"),
        transform(col("mo._2"),
          s => s.cast("double") / lit(1e6) / col("mo._1").cast("double"))
          .as("centroid"))
  }

  /** Multi-iteration Lloyd training: iterate [[kmeansStep]] until the
    * centroids stop moving (max per-dim shift ≤ tol) or maxIters. Each
    * iteration is one corpus scan + one exact-integer aggregate; the
    * centroid table round-trips through the driver between iterations
    * (nCentroids × dim floats — KBs — the bounded centroid-table
    * contract), so the next iteration's plan starts fresh from the scan
    * and lineage never grows. Cells that lose all members keep their
    * previous centroid. Deterministic at any partitioning (exact-micro
    * accumulation) — the trained table feeds [[ivfKnnWithCentroids]] and
    * [[Pq.trainResidualCodebooks]].
    */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Array[(Int, Seq[Float])], maxIters: Int,
      tol: Double = 1e-4): Array[(Int, Seq[Float])] = {
    var cents = seed
    var it = 0
    var moved = true
    while (it < maxIters && moved) {
      val stepped = kmeansStep(corpus, idCol, vecCol, cents)
        .select(col("cell").cast("int"),
          expr("transform(centroid, x -> cast(x as float))"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1))
        .toMap
      val next = cents.map { case (id, old) => id -> stepped.getOrElse(id, old) }
      val shift = cents.iterator.zip(next.iterator).map { case ((_, a), (_, b)) =>
        a.iterator.zip(b.iterator).map { case (x, y) => math.abs(x - y).toDouble }.max
      }.max
      moved = shift > tol
      cents = next
      it += 1
    }
    cents
  }

  /** Approximate top-k: candidates share the query's LSH bucket, then exact
    * cosine + top-k among candidates. Recall < 1 by construction; raise
    * nProbes (hamming-1 bucket expansion) to trade cost for recall.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 12, dim: Int = 64, nProbes: Int = 1, seed: Long = 42L): DataFrame = {
    // fused single-table bucket expression (identical ids to the composed
    // per-plane form; see SimilaritySpec's identity test)
    def bucket1(vec: org.apache.spark.sql.Column) =
      element_at(graft.functions.sign_lsh_buckets(vec, nPlanes, 1, dim, seed), 1)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      bucket1(col(vecCol)).as("bucket"))
    val qBase = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      bucket1(col(vecCol)).as("b0"))
    // multiprobe: the home bucket plus single-bit flips (hamming-1 probes)
    val probes = math.max(1, math.min(nProbes, nPlanes + 1))
    val q = qBase.select(col("q_id"), col("q_vec"), explode(
      expr(s"slice(concat(array(b0), transform(sequence(0, ${nPlanes - 1}), " +
        s"p -> cast(b0 as bigint) ^ shiftleft(1L, p))), 1, $probes)")).as("bucket"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    c.join(q, "bucket")
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        cosine_sim(col("q_vec"), col("c_vec")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "rn", "sim")
  }
}
