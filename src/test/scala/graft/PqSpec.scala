package graft

import org.apache.spark.sql.functions._
import graft.operators.Pq

class PqSpec extends SparkTestBase {

  private lazy val emb = Tables.t(spark, sf, "embeddings").cache()

  test("codebooks are identical at any partitioning (exact-micro Lloyd step)") {
    val b1 = Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ks = 16)
    val b2 = Pq.trainCodebooks(emb.repartition(7), "vec_id", "embedding",
      dim = 64, m = 8, ks = 16)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq == b2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("encode produces m codes in [0, ks) and ADC recall beats random by far") {
    val (m, ks, k) = (8, 16, 10)
    val books = Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = m, ks = ks)
    val encoded = emb.select(col("vec_id"),
      Pq.encodeExpr(col("embedding"), books).as("pq_code")).cache()
    val codes = encoded.select("pq_code").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == m && c.forall(x => x >= 0 && x < ks)))

    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val recalls = queries.map { case (qid, qvec) =>
      val approx = PqSpec.adcTopK(encoded.filter(col("vec_id") =!= qid),
          "vec_id", "pq_code", qvec, books, k)
        .collect().map(_.getLong(0)).toSet
      val exact = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          graft.functions.euclidean_dist(col("embedding"),
            typedLit(qvec.toSeq)).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(k)
        .collect().map(_.getLong(0)).toSet
      (approx intersect exact).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    // random top-10 of 499 would recall ~0.02; the 8-byte code must do
    // far better (measured ~0.5-0.8 on this data)
    assert(mean >= 0.3, s"mean ADC recall@10 too low: $mean (${recalls.toSeq})")
  }

  test("batch ADC (queries DataFrame, one corpus scan) == per-vector adcTopK") {
    val (m, ks, k) = (8, 16, 10)
    val books = Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = m, ks = ks)
    val encoded = emb.select(col("vec_id"),
      Pq.encodeExpr(col("embedding"), books).as("pq_code")).cache()
    val batch = Pq.adcTopKBatch(encoded, emb.filter(col("vec_id") < 5),
        "vec_id", "pq_code", "embedding", books, k)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    queries.foreach { case (qid, qvec) =>
      val single = PqSpec.adcTopK(encoded.filter(col("vec_id") =!= qid),
          "vec_id", "pq_code", qvec, books, k)
        .collect().map(_.getLong(0)).toSet
      assert(batch(qid) == single,
        s"q=$qid batch ${batch(qid)} != single $single")
    }
  }

  test("IVF-PQ: equi-join on probed cells, recall well above random") {
    val (m, ks, k) = (8, 16, 10)
    val seed = graft.operators.Similarity.centroidRows(
      emb.filter(col("vec_id") < 8), "vec_id", "embedding")
    val trained = graft.operators.Similarity.kmeansTrain(
      emb, "vec_id", "embedding", seed, maxIters = 3)
    val cents = trained.map(_._2.map(_.toDouble).toArray)
    val books = Pq.trainResidualCodebooks(emb, "vec_id", "embedding",
      cents, m = m, ks = ks)
    val encoded = Pq.ivfPqEncode(emb, "vec_id", "embedding", cents, books).cache()
    // every row lands in a valid cell with m codes in [0, ks)
    val rows = encoded.collect()
    assert(rows.forall { r =>
      val cell = r.getInt(1); val code = r.getSeq[Int](2)
      cell >= 0 && cell < cents.length &&
        code.length == m && code.forall(x => x >= 0 && x < ks)
    })
    val res = Pq.ivfPqTopK(encoded, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", cents, books, k = k, nProbe = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val queries = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val recalls = queries.map { case (qid, qvec) =>
      val exact = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          graft.functions.euclidean_dist(col("embedding"),
            typedLit(qvec.toSeq)).as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(k)
        .collect().map(_.getLong(0)).toSet
      (res(qid) intersect exact).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    // probing 3/8 cells with residual codes: must beat random (~0.02) by
    // a wide margin (measured on this data; pinned loosely)
    assert(mean >= 0.2, s"mean IVF-PQ recall@10 too low: $mean (${recalls.toSeq})")
    // every query returns exactly k ranked candidates
    assert(res.values.forall(_.size == k))
  }

  test("stored IVF-PQ index == the in-query chain, and the index is reused") {
    // the compressed-index split must return the inline chain's ranks
    // exactly (doubles round-trip parquet, so the model tables are
    // bit-identical), and a second invocation reads the cache
    val inline = SparkEntry.queries("q_embed_knn_ivfpq")(spark, sf)
      .collect().map(_.toString).toSeq
    val fromIdx = SparkEntry.queries("q_ann_from_index_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromIdx == inline, "stored IVF-PQ query drifted from the inline chain")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val caches = tmp.listFiles().filter(_.getName.startsWith("graft_ivfpq_cache_"))
    assert(caches.nonEmpty, "no materialized IVF-PQ index found")
    val markers = caches.flatMap(c => Seq("centroids", "books", "codes").map(x =>
      new java.io.File(c, x + "/_SUCCESS"))).filter(_.exists())
    assert(markers.nonEmpty, "materialized IVF-PQ index has no _SUCCESS markers")
    val before = markers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val again = SparkEntry.queries("q_ann_from_index_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == inline)
    markers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"IVF-PQ index ${m.getParent} was rewritten on a cache hit")
    }
    // the codes layout carries the pruning contract: hive cell=N dirs
    val parts = caches.flatMap(c =>
      Option(new java.io.File(c, "codes").listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("cell="))
    assert(parts.nonEmpty, "codes are not partitioned by cell")
  }

  test("a crashed append stage re-runs by overwriting its own generation; stale partials never survive") {
    // ArtifactCache.staged's contract: every stage is overwrite-
    // idempotent into its OWN subdirectory. Simulate a crash mid-append
    // (marker missing, stale partial files present) and require the
    // re-run to produce the clean result with the partials gone.
    // Clear ALL ivfpqincr caches first so the one mutated and inspected
    // is unambiguously this sf's (other sfDirs' caches share the prefix
    // and would never be rebuilt by this sf's query).
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def incrCaches() = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfpqincr_cache_"))
    incrCaches().foreach { c =>
      val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    val got = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    val caches = incrCaches()
    assert(caches.length == 1,
      s"expected exactly the cold-rebuilt index, found ${caches.length}")
    caches.foreach { c =>
      val gen1 = new java.io.File(c, "codes/gen=1")
      if (gen1.isDirectory) {
        assert(new java.io.File(gen1, "_SUCCESS").delete(),
          s"could not remove $gen1/_SUCCESS")
        val stale = new java.io.File(gen1,
          "part-99999-stale-crash-leftover.snappy.parquet")
        java.nio.file.Files.write(stale.toPath,
          "not parquet".getBytes("UTF-8")): Unit
      }
    }
    val again = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == got, "recovered append drifted from the clean build")
    caches.foreach { c =>
      val gen1 = new java.io.File(c, "codes/gen=1")
      if (gen1.isDirectory) {
        assert(new java.io.File(gen1, "_SUCCESS").exists(),
          "recovered append did not re-mark its generation")
        assert(!gen1.listFiles().exists(_.getName.contains("stale-crash")),
          "stale partial file survived the overwrite re-run")
      }
    }
  }

  test("IVF-PQ compact: single-generation rewrite == the two-generation index, gen dimension gone") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // clear stale compact AND incr caches (other sf dirs share the
    // prefixes) so the ones inspected are unambiguously this run's
    tmp.listFiles().filter(f =>
        f.getName.startsWith("graft_ivfpqcompact_cache_") ||
        f.getName.startsWith("graft_ivfpqincr_cache_"))
      .foreach { c =>
        val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true): Unit
      }
    val incrRanks = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    val gotRanks = SparkEntry.queries("q_ann_index_compact_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(gotRanks == incrRanks,
      "compacted PQ index drifted from the two-generation index")
    val caches = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfpqcompact_cache_"))
    assert(caches.length == 1,
      s"expected exactly the cold-built compact index, found ${caches.length}")
    // layout contract: cell= dirs sit DIRECTLY under codes/ — the gen
    // dimension is compacted away, cell pruning intact
    val parts = Option(new java.io.File(caches.head, "codes").listFiles())
      .toSeq.flatten
    assert(parts.exists(_.getName.startsWith("cell=")),
      "compacted codes are not hive-partitioned by cell")
    assert(!parts.exists(_.getName.startsWith("gen=")),
      "gen dimension survived compaction")
  }

  test("q_ann_recall_pq == recall recomputed driver-side; compression costs recall vs the IVF-Flat index") {
    val rows = SparkEntry.queries("q_ann_recall_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until 5L).toSeq, "one row per query vector")
    rows.foreach { case (q, hits, micro) =>
      assert(hits >= 0 && hits <= 10, s"query $q: hits out of [0, 10]")
      assert(micro == hits * 100000L, s"query $q: recall_micro drifted")
    }
    val exact = SparkEntry.queries("q_embed_knn")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SparkEntry.queries("q_ann_from_index_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (q, hits, _) =>
      val expect = exact.filter(_._1 == q).intersect(served.filter(_._1 == q)).size
      assert(hits == expect, s"query $q: recall diverges from the chain intersection")
    }
    // the metric earns its keep: ADC over 8-byte codes must still beat
    // random by far (random recall@10 of a ~1%-of-corpus set is ~0)
    assert(rows.map(_._2).sum >= 10, "PQ recall collapsed — codes no longer rank")
  }

  test("q_ann_probe_curve_pq: bounds hold, converges to q_ann_recall_pq; ADC need NOT be per-query monotone") {
    val curve = SparkEntry.queries("q_ann_probe_curve_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(curve.keys.toSet == (for (p <- 1L to 3L; q <- 0L until 5L) yield (p, q)).toSet,
      "one row per (n_probe, query)")
    curve.values.foreach(h => assert(h >= 0 && h <= 10))
    // Unlike the exact-rescoring IVF curve, the ADC curve is NOT
    // guaranteed per-query monotone: a widened probe set adds candidates
    // whose quantized distances are UNDERestimated, and those can push a
    // true neighbor out of the top-10 (this corpus exhibits it: query 3
    // drops 4 -> 3 hits going from 1 to 2 probes at the test sf). What
    // does hold: the full-probe column IS q_ann_recall_pq's, and the
    // AGGREGATE recall at full probes is well above the narrowest probe's
    // floor-of-zero (the curve stays informative as a tuning table).
    val recall = SparkEntry.queries("q_ann_recall_pq")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (q <- 0L until 5L) {
      assert(curve((3L, q)) == recall(q),
        s"query $q: curve at nProbe=3 diverges from q_ann_recall_pq")
    }
    assert((0L until 5L).map(q => curve((3L, q))).sum >= 10,
      "full-probe ADC recall collapsed")
  }

  test("IVF-PQ append: appended codes == re-encoding the whole corpus under the frozen model; append never rewrites base or model") {
    // clear ALL ivfpqincr caches first so the one inspected is
    // unambiguously this sf's (other sfDirs' caches share the prefix)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def incrCaches() = tmp.listFiles()
      .filter(_.getName.startsWith("graft_ivfpqincr_cache_"))
    incrCaches().foreach { c =>
      val p = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    val got = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    val caches = incrCaches()
    assert(caches.length == 1,
      s"expected exactly the cold-rebuilt index, found ${caches.length}")
    val idx = caches.head.getAbsolutePath
    // frozen-model law: the union of code generations equals re-encoding
    // the WHOLE corpus under the stored (centroids, books)
    val cents = spark.read.parquet(idx + "/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val bookRows = spark.read.parquet(idx + "/books").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val books = Array.tabulate(8, 16)((sp, c) => bookRows((sp, c)))
    val rebuilt = Pq.ivfPqEncode(emb, "vec_id", "embedding", cents, books)
      .select(col("vec_id"), col("cell").cast("int"), col("pq_code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val stored = spark.read.parquet(idx + "/codes")
      .select(col("vec_id"), col("cell").cast("int"), col("pq_code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(stored == rebuilt,
      "appended codes diverge from a full re-encode under the stored model")
    // marker protocol: wiping ONLY the append generation re-runs ONLY
    // the append stage — model tables and base codes are untouched
    val baseMarkers = Seq("centroids/_SUCCESS", "books/_SUCCESS",
        "codes/gen=0/_SUCCESS").map(m => new java.io.File(idx, m))
    baseMarkers.foreach(m => assert(m.exists(), s"missing $m"))
    val before = baseMarkers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val gen1 = new org.apache.hadoop.fs.Path(idx + "/codes/gen=1")
    gen1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gen1, true): Unit
    val again = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == got, "re-appended index drifted")
    baseMarkers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"${m.getParent} was rebuilt by a pending append (append mistaken for full build)")
    }
    assert(new java.io.File(idx, "codes/gen=1/_SUCCESS").exists(),
      "append stage did not re-run")
  }

  test("PQ model refresh: threshold wiring both ways; refreshed == the full-corpus compressed build") {
    val factorKey = "spark.graft.ann.refreshFactorMicro"
    val frozen = SparkEntry.queries("q_ann_index_incr_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    val rebuilt = SparkEntry.queries("q_ann_from_index_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    try {
      spark.conf.set(factorKey, Long.MaxValue.toString)
      val kept = SparkEntry.queries("q_ann_refresh_pq")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(kept == frozen,
        "an un-triggered PQ refresh must serve the frozen store unchanged")
      spark.conf.unset(factorKey)
      val refreshed = SparkEntry.queries("q_ann_refresh_pq")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(refreshed == rebuilt,
        "refreshed PQ index drifted from the built-from-scratch index")
    } finally spark.conf.unset(factorKey)
  }

  test("q_pq_serve_current == q_ann_refresh_pq: the pointer serves the refreshed version; only the pointed one survives gc") {
    val viaPointer = SparkEntry.queries("q_pq_serve_current")(spark, sf)
      .collect().map(_.toString).toSeq
    val rebuilt = SparkEntry.queries("q_ann_from_index_pq")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaPointer == rebuilt,
      "PQ pointer serve drifted from the built-from-scratch compressed index")
    // resolve THIS sf's registry via the cache keying the query uses,
    // not a tmpdir glob (ADVICE r19: globs sweep in stale registries)
    val reg = new java.io.File(
      graft.queries.PipelineQueries.materializedIvfPqRegistryDir(spark, sf))
    assert(reg.isDirectory, "no PQ registry dir found")
    val versions = reg.listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).sorted.toSeq
    assert(versions == Seq("v1"),
      s"PQ registry ${reg.getName} should hold exactly the pointed v1: $versions")
  }
}

object PqSpec {
  import org.apache.spark.sql.DataFrame

  /** Single-vector ADC top-k, the reference the batch form
    * ([[Pq.adcTopKBatch]]) is checked against: the query's per-subspace
    * distance table becomes a literal. Returns (idCol, adc_dist), the k
    * smallest by (distance, id).
    */
  def adcTopK(encoded: DataFrame, idCol: String, codeCol: String,
      query: Array[Double], books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = books.length
    val d0 = books(0)(0).length
    val table: Seq[Seq[Double]] = (0 until m).map { s =>
      val q = query.slice(s * d0, (s + 1) * d0)
      books(s).toSeq.map { c =>
        var acc = 0.0; var i = 0
        while (i < d0) { val dx = q(i) - c(i); acc += dx * dx; i += 1 }
        acc
      }
    }
    encoded.select(col(idCol), Pq.adcDist(typedLit(table), col(codeCol), m).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }
}
