package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {

  private lazy val emb = Tables.t(spark, sf, "embeddings").cache()

  test("cosine_sim expression matches driver-side computation") {
    val row = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(graft.functions.cosine_sim(col("a.embedding"), col("b.embedding")))
      .collect()(0).getDouble(0)
    val vecs = emb.filter(col("vec_id") < 2).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- vecs(0).indices) {
      dot += vecs(0)(i).toDouble * vecs(1)(i)
      na += vecs(0)(i).toDouble * vecs(0)(i)
      nb += vecs(1)(i).toDouble * vecs(1)(i)
    }
    assert(math.abs(row - dot / math.sqrt(na * nb)) < 1e-12)
  }

  test("euclidean_dist: exact on a 3-4-5 triangle, zero on self") {
    import spark.implicits._
    val df = Seq((Array(0f, 0f), Array(3f, 4f))).toDF("a", "b")
    val d = df.select(graft.functions.euclidean_dist(col("a"), col("b")))
      .collect()(0).getDouble(0)
    assert(d == 5.0)
    val self = emb.limit(5)
      .select(graft.functions.euclidean_dist(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ == 0.0))
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT euclidean_dist(array(1.0D, 1.0D), array(1.0D, 2.0D)) AS d")
      .collect()(0).getDouble(0) == 1.0)
  }

  test("vector expressions reject non-vector inputs at analysis time") {
    import spark.implicits._
    val df = Seq((1L, "not a vector")).toDF("id", "s")
    def analysisFails(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](f.collect())
      assert(e.getMessage.toLowerCase.contains("array"), e.getMessage)
    }
    analysisFails(df.select(graft.functions.cosine_sim(col("s"), col("s"))))
    analysisFails(df.select(graft.functions.euclidean_dist(col("s"), col("s"))))
    analysisFails(df.select(graft.functions.sign_lsh_buckets(col("s"), 6, 4, 64)))
    analysisFails(df.select(graft.functions.sorted_intersect_size(col("s"), col("s"))))
  }

  test("fused sign_lsh_buckets == composed per-plane hyperplane buckets") {
    val composed = emb.select(col("vec_id"),
        array((0 until 4).map { t =>
          SimilaritySpec.hyperplaneBuckets(
            col("embedding"), 6, 64, 42L + t * 7919L)
        }: _*).as("b"))
      .orderBy("vec_id").collect().map(_.getSeq[Long](1))
    val fused = emb.select(col("vec_id"),
        graft.functions.sign_lsh_buckets(col("embedding"), 6, 4, 64).as("b"))
      .orderBy("vec_id").collect().map(_.getSeq[Long](1))
    composed.zip(fused).foreach { case (a, b) =>
      assert(a == b, "fused LSH buckets differ from composed form")
    }
  }

  test("bruteForceKnn returns exactly k deterministic neighbors per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 7)
    val counts = out.groupBy("q_id").count().collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(7L, 7L, 7L))
    // rerun => identical (determinism under ties)
    val a = out.orderBy("q_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 7)
      .orderBy("q_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("bruteForceKnn top-1 agrees with naive argmax") {
    val queries = emb.filter(col("vec_id") === 0)
    val top1 = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 1)
      .collect()(0).getLong(1)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / math.sqrt(na * nb)
    }
    val q = vecs(0L)
    val want = vecs.view.filterKeys(_ != 0L).toSeq
      .maxBy { case (id, v) => (cos(q, v), -id.toDouble) }._1
    assert(top1 == want)
  }

  test("ivfKnn achieves nontrivial recall vs exact") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4-of-16 cells probed over a near-uniform corpus: expected candidate
    // fraction ~25%, so recall well above the ~2% chance floor
    assert(recall > 0.1, s"ivf recall $recall not better than chance")
  }

  test("kmeansTrain converges and trained quantizer beats the raw seed") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seed = Similarity.centroidRows(
      emb.filter(col("vec_id") < 16), "vec_id", "embedding")
    def recallWith(cents: Array[(Int, Seq[Float])]): Double = {
      val cdf = emb.sparkSession.createDataFrame(
        cents.toSeq.map { case (i, v) => (i, v) }).toDF("cell", "centroid")
      val approx = Similarity.ivfKnnWithCentroids(emb, queries,
          "vec_id", "embedding", k = 10, cdf, "cell", "centroid", nProbe = 4)
        .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    // the k-means contract is the QUANTIZATION OBJECTIVE — mean cosine of
    // each vector to its assigned centroid — not IVF recall at fixed
    // nProbe: on this near-uniform corpus recall tracks probed-cell
    // coverage, which a skewed seed quantizer inflates by scanning more.
    // Distortion is what IVF cell quality and PQ residual quality ride on.
    def objective(cents: Array[(Int, Seq[Float])]): Double = {
      val scores = array(cents.map { case (cid, cv) =>
        struct(graft.functions.cosine_sim(col("embedding"), typedLit(cv)).as("sim"),
          lit(cid).as("cell"))
      }: _*)
      emb.select(array_max(scores).getField("sim").as("s"))
        .agg(avg("s")).collect()(0).getDouble(0)
    }
    val trained = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      seed, maxIters = 5)
    // training is deterministic at any partitioning (exact-micro steps)
    val trained2 = Similarity.kmeansTrain(emb.repartition(7), "vec_id",
      "embedding", seed, maxIters = 5)
    assert(trained.map(_._2).toSeq == trained2.map(_._2).toSeq)
    val (objSeed, objTrained) = (objective(seed), objective(trained))
    assert(objTrained > objSeed,
      s"trained quantization objective $objTrained not above seed $objSeed")
    val rTrained = recallWith(trained)
    val rSeed = recallWith(seed)
    // recall stays in family at equal nProbe (coverage-bound on uniform
    // data) and well above the ~2% chance floor
    assert(rTrained >= rSeed - 0.15 && rTrained > 0.1,
      s"trained ivf recall $rTrained collapsed (seed $rSeed)")
  }

  test("lshKnn recall >= 0.95 for planted near-duplicate queries") {
    // quantitative gate on the operator's contract: a query that IS a
    // near-duplicate of a corpus vector (cos >= 0.99) must surface that
    // vector in its top-k. Uniform-corpus recall is measured separately.
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.005f)).as("embedding"))
    val out = Similarity.lshKnn(emb, queries, "vec_id", "embedding",
        k = 5, nPlanes = 6, dim = 64, nProbes = 7)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0L until 20L).count(i => out.contains((i + 100000, i)))
    assert(hits >= 19, s"only $hits/20 planted queries found their source vector")
  }

  test("lshKnn achieves nontrivial recall vs exact") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(emb, queries, "vec_id", "embedding",
        k = 10, nPlanes = 6, dim = 64, nProbes = 7)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // this corpus is near-uniform random: "neighbors" sit at ~60-70deg, so
    // sign-LSH collision rates are inherently modest; the check is that the
    // bucketing finds substantially more than chance (random 10-of-499
    // candidates would give recall ~0.02)
    assert(recall > 0.05, s"recall $recall not better than chance")
  }

  test("hardNegatives: only cross-label neighbors, bruteForceKnn minus same-label") {
    val emb = graft.Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.hardNegatives(emb, queries, "vec_id", "embedding", "label", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 5 * 5)
    assert(got.forall { case (q, c, _) => labels(q) != labels(c) },
      "every mined negative must carry a different label")
    // cross-check against the exact KNN over a manually label-filtered corpus
    for (qid <- 0L until 5L) {
      val corpusFiltered = emb.filter(col("label") =!= labels(qid))
      val expect = Similarity.bruteForceKnn(corpusFiltered,
          queries.filter(col("vec_id") === qid), "vec_id", "embedding", 5)
        .select("q_id", "c_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.filter(_._1 == qid).toSet == expect, s"query $qid diverges")
    }
  }

  test("stored-index ANN query == the in-query IVF chain, and the index is reused") {
    // the materialized-index split must return the inline chain's ranks
    // exactly (same trained quantizer, same assignment), and a second
    // invocation must read the cached index instead of rebuilding it
    val inline = SparkEntry.queries("q_embed_knn_ivf")(spark, sf)
      .collect().map(_.toString).toSeq
    val fromIdx = SparkEntry.queries("q_ann_from_index")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromIdx == inline, "stored-index query drifted from the inline IVF chain")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val caches = tmp.listFiles().filter(_.getName.startsWith("graft_ivf_cache_"))
    assert(caches.nonEmpty, "no materialized IVF index found")
    val markers = caches.flatMap(c => Seq("centroids", "postings").map(s =>
      new java.io.File(c, s + "/_SUCCESS"))).filter(_.exists())
    assert(markers.nonEmpty, "materialized IVF index has no _SUCCESS markers")
    val before = markers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val again = SparkEntry.queries("q_ann_from_index")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == inline)
    markers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"IVF index ${m.getParent} was rewritten on a cache hit")
    }
    // the postings layout carries the pruning contract: hive cell=N dirs
    val parts = caches.flatMap(c => Option(new java.io.File(c, "postings").listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("cell="))
    assert(parts.nonEmpty, "postings are not partitioned by cell")
  }

  test("q_ann_recall == recall recomputed driver-side from the two oracled chains") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until 5L).toSeq, "one row per query vector")
    // recall_micro is the exact integer hits·1e6/10, never a float
    rows.foreach { case (q, hits, micro) =>
      assert(hits >= 0 && hits <= 10, s"query $q: hits out of [0, 10]")
      assert(micro == hits * 100000L, s"query $q: recall_micro drifted")
    }
    // recompute |served-index top-10 ∩ exact top-10| from the chains
    val exact = SparkEntry.queries("q_embed_knn")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SparkEntry.queries("q_ann_from_index")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (q, hits, _) =>
      val expect = exact.filter(_._1 == q).intersect(served.filter(_._1 == q)).size
      assert(hits == expect, s"query $q: recall diverges from the chain intersection")
    }
  }

  test("q_ann_probe_curve: recall monotone in n_probe, converges to q_ann_recall at the full probe set") {
    val curve = SparkEntry.queries("q_ann_probe_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(curve.keys.toSet == (for (p <- 1L to 4L; q <- 0L until 5L) yield (p, q)).toSet,
      "one row per (n_probe, query)")
    // widening the probe set only ADDS candidates: recall is monotone
    for (q <- 0L until 5L; p <- 1L to 3L) {
      assert(curve((p, q)) <= curve((p + 1, q)),
        s"query $q: recall decreased going from $p to ${p + 1} probes")
    }
    // at the full probe set the curve IS q_ann_recall's column
    val recall = SparkEntry.queries("q_ann_recall")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (q <- 0L until 5L) {
      assert(curve((4L, q)) == recall(q),
        s"query $q: curve at nProbe=4 diverges from q_ann_recall")
    }
  }

  test("IVF append: appended generations == rebuild under the frozen quantizer; append never rewrites the base") {
    val emb = Tables.t(spark, sf, "embeddings")
    // clear ALL ivfincr caches first so the one inspected is unambiguously
    // this sf's (other sfDirs' caches share the prefix and may be newer)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def incrCaches() = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfincr_cache_"))
    incrCaches().foreach { c =>
      val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    val got = SparkEntry.queries("q_ann_index_incr")(spark, sf)
      .collect().map(_.toString).toSeq
    val caches = incrCaches()
    assert(caches.length == 1,
      s"expected exactly the cold-rebuilt index, found ${caches.length}")
    val idx = caches.head.getAbsolutePath
    // frozen-quantizer law: the union of postings generations equals a
    // full re-assignment of the WHOLE corpus under the stored centroids
    val cents = Similarity.centroidRows(
      spark.read.parquet(idx + "/centroids"), "cell", "centroid")
    val rebuilt = Similarity.ivfAssignCells(emb, "vec_id", "embedding", cents)
      .select(col("c_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val stored = spark.read.parquet(idx + "/postings")
      .select(col("c_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == rebuilt,
      "appended postings diverge from a full rebuild under the same centroids")
    // marker protocol: wiping ONLY the append generation re-runs ONLY the
    // append stage — base postings and centroids are untouched
    val baseMarkers = Seq("centroids/_SUCCESS", "postings/gen=0/_SUCCESS")
      .map(m => new java.io.File(idx, m))
    baseMarkers.foreach(m => assert(m.exists(), s"missing $m"))
    val before = baseMarkers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val gen1 = new org.apache.hadoop.fs.Path(idx + "/postings/gen=1")
    gen1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gen1, true): Unit
    val again = SparkEntry.queries("q_ann_index_incr")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == got, "re-appended index drifted")
    baseMarkers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"${m.getParent} was rebuilt by a pending append (append mistaken for full build)")
    }
    assert(new java.io.File(idx, "postings/gen=1/_SUCCESS").exists(),
      "append stage did not re-run")
  }

  test("IVF compact: single-generation rewrite == the two-generation index, gen dimension gone") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // clear stale compact AND incr caches (other sf dirs share the
    // prefixes) so the ones inspected are unambiguously this run's
    tmp.listFiles().filter(f =>
        f.getName.startsWith("graft_ivfcompact_cache_") ||
        f.getName.startsWith("graft_ivfincr_cache_"))
      .foreach { c =>
        val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true): Unit
      }
    val incrRanks = SparkEntry.queries("q_ann_index_incr")(spark, sf)
      .collect().map(_.toString).toSeq
    val gotRanks = SparkEntry.queries("q_ann_index_compact")(spark, sf)
      .collect().map(_.toString).toSeq
    // frozen quantizer: compacting the generations cannot change ranks
    assert(gotRanks == incrRanks,
      "compacted index drifted from the two-generation index")
    val caches = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfcompact_cache_"))
    assert(caches.length == 1,
      s"expected exactly the cold-built compact index, found ${caches.length}")
    val idx = caches.head.getAbsolutePath
    // layout contract: cell= dirs sit DIRECTLY under postings/ — the gen
    // dimension is compacted away, cell pruning intact
    val parts = Option(new java.io.File(idx, "postings").listFiles())
      .toSeq.flatten.filter(_.isDirectory)
    assert(parts.nonEmpty && parts.forall(_.getName.startsWith("cell=")),
      s"compacted postings are not a flat cell= layout: ${parts.map(_.getName).toSeq}")
    // row-set contract: compaction is pure I/O — same (c_id, cell) set as
    // the generations' union
    val stored = spark.read.parquet(idx + "/postings")
      .select(col("c_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val incrCaches = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfincr_cache_"))
    assert(incrCaches.length == 1)
    val gens = spark.read.parquet(incrCaches.head.getAbsolutePath + "/postings")
      .select(col("c_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == gens, "compacted postings lost or duplicated rows")
    // cache hit: a second invocation serves the compacted layout as-is
    val marker = new java.io.File(idx, "postings/_SUCCESS")
    val before = marker.lastModified()
    val again = SparkEntry.queries("q_ann_index_compact")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == incrRanks)
    assert(marker.lastModified() == before,
      "compact index was rewritten on a cache hit")
  }

  test("lifecycle cycle: compact->append == append->append; the generation counter restarts after compaction") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // clear stale cycle/nights caches (other sf dirs share the prefixes)
    tmp.listFiles().filter(f =>
        f.getName.startsWith("graft_ivfnights_cache_") ||
        f.getName.startsWith("graft_ivfcycle_cache_"))
      .foreach { c =>
        val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true): Unit
      }
    val nights = SparkEntry.queries("q_ann_index_nights")(spark, sf)
      .collect().map(_.toString).toSeq
    val cycle = SparkEntry.queries("q_ann_index_cycle")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(cycle == nights,
      "compact->append drifted from append->append under the frozen quantizer")
    def cacheOf(prefix: String): java.io.File = {
      val cs = tmp.listFiles().filter(_.getName.startsWith(prefix))
      assert(cs.length == 1, s"expected one $prefix dir, got ${cs.length}")
      cs.head
    }
    def gensOf(idx: java.io.File): Seq[String] =
      Option(new java.io.File(idx, "postings").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("gen="))
        .map(_.getName).sorted.toSeq
    // append->append accumulated three generations; the cycle store holds
    // the compacted night-1 state (gen=0) plus night 2's append (gen=1):
    // compaction collapsed history, so the counter handed out 1 again
    assert(gensOf(cacheOf("graft_ivfnights_cache_")) ==
      Seq("gen=0", "gen=1", "gen=2"))
    assert(gensOf(cacheOf("graft_ivfcycle_cache_")) == Seq("gen=0", "gen=1"))
    // row-set law: the two stores hold the SAME postings
    def rowsOf(idx: java.io.File) =
      spark.read.parquet(idx.getAbsolutePath + "/postings")
        .select(col("c_id"), col("cell").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rowsOf(cacheOf("graft_ivfcycle_cache_")) ==
      rowsOf(cacheOf("graft_ivfnights_cache_")),
      "cycled store lost or duplicated postings vs the append-only store")
  }

  test("model refresh: threshold wiring both ways; recall(refreshed) >= recall(frozen) on the grown corpus") {
    val factorKey = "spark.graft.ann.refreshFactorMicro"
    val frozen = SparkEntry.queries("q_ann_index_incr")(spark, sf)
      .collect().map(_.toString).toSeq
    val rebuilt = SparkEntry.queries("q_ann_from_index")(spark, sf)
      .collect().map(_.toString).toSeq
    try {
      // trigger below threshold -> the frozen store keeps serving
      spark.conf.set(factorKey, Long.MaxValue.toString)
      val kept = SparkEntry.queries("q_ann_refresh")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(kept == frozen,
        "an un-triggered refresh must serve the frozen store unchanged")
      // trigger fired (default 0) -> retrained == the full-corpus build
      spark.conf.unset(factorKey)
      val refreshed = SparkEntry.queries("q_ann_refresh")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(refreshed == rebuilt,
        "refreshed index drifted from the built-from-scratch index")
    } finally spark.conf.unset(factorKey)
    // recall law (the reason the verb exists): against exact brute-force
    // top-10, the current-corpus-trained index is at least as good as
    // the base-frozen one
    def recallOf(rows: Seq[String]): Int = {
      val approx = rows.map { r =>
        val c = r.stripPrefix("[").stripSuffix("]").split(",")
        (c(0).toLong, c(1).toLong)
      }.toSet
      val exact = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("q_id", "c_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & exact).size
    }
    assert(recallOf(rebuilt) >= recallOf(frozen),
      "refresh must not lose recall vs the frozen store on the grown corpus")
  }

  test("recall-aware refresh: a balanced-occupancy store still refreshes when sampled recall decays") {
    // The drift mode occupancy misses: cells stay balanced while the
    // base-trained centroids are uniformly wrong. Mute the skew signal
    // entirely (factor = MaxValue) and drive the decision from the
    // sampled recall-proxy alone — the refresh must fire when the floor
    // sits above the frozen store's measured recall, and must NOT fire
    // when it sits at/below it (either-signal wiring, VERDICT r18 #5).
    val factorKey = "spark.graft.ann.refreshFactorMicro"
    val recallKey = "spark.graft.ann.refreshRecallMicro"
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    val frozen = rows("q_ann_index_incr")
    val rebuilt = rows("q_ann_from_index")
    // the frozen store's aggregate sampled recall, from the registered
    // readout (Σ hits · 1e6 / (10 · |sample|)) — the same number
    // sampledRecallMicro hands the decision
    val perQ = SparkEntry.queries("q_ann_refresh_recall")(spark, sf)
      .collect().map(_.getLong(1))
    val frozenRecall = perQ.sum * 1000000L / (10L * perQ.length)
    try {
      spark.conf.set(factorKey, Long.MaxValue.toString)
      // floor at the measured recall: not below it -> frozen serves
      spark.conf.set(recallKey, frozenRecall.toString)
      assert(rows("q_ann_refresh") == frozen,
        "recall at the floor must not trigger a refresh")
      // floor one micro above: recall < floor -> retrain fires and the
      // served rows are the full-corpus rebuild
      spark.conf.set(recallKey, (frozenRecall + 1).toString)
      assert(rows("q_ann_refresh") == rebuilt,
        "recall decay below the floor must force the retrain even with occupancy muted")
    } finally {
      spark.conf.unset(factorKey)
      spark.conf.unset(recallKey)
    }
  }

  test("versioned registry: pointer serves the refreshed version, GC retires the frozen one; threshold both ways") {
    val factorKey = "spark.graft.ann.refreshFactorMicro"
    def coldRegistry(): Unit =
      new java.io.File(sys.props("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith("graft_ivfreg")) // canonical + gate-keyed
        .foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d.getAbsolutePath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true): Unit
        }
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    val nVecs = emb.count()
    try {
      // default trigger (forced refresh): the pointer must serve exactly
      // what the built-from-scratch index serves, and the inventory
      // must show ONE surviving version — the pointed, full-corpus v1
      coldRegistry()
      assert(rows("q_ann_serve_current") == rows("q_ann_from_index"),
        "pointer-served rows diverged from the built-from-scratch index")
      assert(rows("q_ann_registry_versions") == Seq(s"[v1,1,$nVecs]"),
        "terminal registry state must be exactly {v1 = current, whole corpus}")
      // un-triggered lifecycle on a COLD registry: the pointer stays on
      // the frozen snapshot, the serve equals the frozen store's answer,
      // and GC retires nothing (v0 is the pointed version)
      coldRegistry()
      spark.conf.set(factorKey, Long.MaxValue.toString)
      assert(rows("q_ann_serve_current") == rows("q_ann_index_incr"),
        "an un-triggered registry must serve the frozen snapshot")
      assert(rows("q_ann_registry_versions") == Seq(s"[v0,1,$nVecs]"),
        "un-triggered registry must keep (only) the pointed frozen v0")
    } finally {
      spark.conf.unset(factorKey)
      // drop the threshold-shaped registry so later default-conf runs
      // (Verify, bench) rebuild the canonical terminal state
      coldRegistry()
    }
  }

  test("recall probe set is a fixed count, not a corpus fraction") {
    // VERDICT r19 #1: a fraction-sized probe makes the refresh trigger
    // itself an O(frac*N^2) job with an N-scaled broadcast at 100x. The
    // probe is the first K vectors by (md5(vec_id), vec_id), so the
    // readout has exactly K rows (one per probe query) at EVERY corpus
    // size: 500 vectors here, 4x that at sf0.1 — same K both times.
    val k = 48
    val small = SparkEntry.queries("q_ann_refresh_recall")(spark, sf)
      .select("q_id").collect().map(_.getLong(0))
    assert(small.length == k, s"probe at sf0.001 must be exactly $k")
    assert(small.distinct.length == k, "one row per probe query")
    val big = SparkEntry.queries("q_ann_refresh_recall")(
        spark, "/root/testdata/sf0.1")
      .select("q_id").collect().map(_.getLong(0))
    assert(big.length == k,
      s"probe must stay $k on the 4x corpus, got ${big.length}")
  }
}

object SimilaritySpec {
  import org.apache.spark.sql.Column

  /** Bucket id = sign bits of the vector against nPlanes hyperplanes
    * (Charikar '02), one plane per `when`: the composed form the fused
    * `sign_lsh_buckets` expression is checked against.
    */
  def hyperplaneBuckets(vec: Column, nPlanes: Int, dim: Int, seed: Long): Column =
    Similarity.hyperplanes(nPlanes, dim, seed).zipWithIndex.map { case (plane, p) =>
      when(graft.functions.dot_product(vec, typedLit(plane.toSeq)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
}
