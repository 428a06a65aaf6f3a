package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Pack}

class BpeSpec extends SparkTestBase {

  private lazy val docs = Tables.t(spark, sf, "documents").cache()

  test("spaced representation round-trips the normalized text") {
    // concat of non-boundary tokens == the alnum chars of lower(text),
    // for any merge table (merges only ever join adjacent in-word tokens)
    val merges = Bpe.trainMerges(docs.limit(200), col("text"), 8, 2)
    val bad = docs.limit(200)
      .select(
        regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("want"),
        array_join(Bpe.encode(col("text"), merges), "").as("got"))
      .filter(col("want") =!= col("got"))
      .count()
    assert(bad == 0L)
  }

  test("training is deterministic at any partitioning") {
    val m1 = Bpe.trainMerges(docs, col("text"), 16, 2)
    val m2 = Bpe.trainMerges(docs.repartition(7), col("text"), 16, 2)
    assert(m1 == m2)
    // merges must be unique (a repeated merge would be a no-op pass)
    assert(m1.distinct.size == m1.size)
  }

  test("q_bpe_train replays the exact trainMerges trajectory at the training sf") {
    // q_bpe_train measures each round's top-16 under the STATIC literal's
    // prefix chains (so Spark and DuckDB stay in lockstep at any sf); at
    // the sf the table was TRAINED on (sf0.01), those measurements are
    // the training trajectory itself — this pins the inlined BpeMerges
    // literal to what the data actually produces, which q_bpe_encode's
    // oracle alone never checks (both engines just apply the same chain).
    val sf001 = "/root/testdata/sf0.01"
    val docs001 = Tables.t(spark, sf001, "documents")
    val want = Bpe.trainMerges(docs001, col("text"), 16, 3)
    val got = SparkEntry.queries("q_bpe_train")(spark, sf001)
      .collect() // already ordered (round, c desc, x, y) = append order
      .map(r => (r.getString(r.fieldIndex("x")), r.getString(r.fieldIndex("y"))))
      .toSeq
    assert(got == want,
      s"q_bpe_train diverged from trainMerges:\n  got=$got\n  want=$want")
  }

  test("histogram trainer learns the IDENTICAL trajectory to trainMerges") {
    // the scale-path trainer (one corpus scan -> word histogram, merge
    // rounds over the histogram alone) must be a pure cost optimization:
    // same merges, same order, at any partitioning
    val corpus = Bpe.trainMerges(docs, col("text"), 16, 3)
    val hist = Bpe.trainMergesHist(docs, col("text"), 16, 3)
    assert(hist == corpus,
      s"trainMergesHist diverged from trainMerges:\n  hist=$hist\n  corpus=$corpus")
    val histRep = Bpe.trainMergesHist(docs.repartition(7), col("text"), 16, 3)
    assert(histRep == corpus)
  }

  test("q_bpe_train_hist replays the same trajectory as q_bpe_train") {
    val sf001 = "/root/testdata/sf0.01"
    val a = SparkEntry.queries("q_bpe_train")(spark, sf001).collect()
    val b = SparkEntry.queries("q_bpe_train_hist")(spark, sf001).collect()
    assert(a.toSeq == b.toSeq,
      "histogram-derived training rounds diverged from corpus-scan rounds")
  }

  test("multi-round merges compose into multi-char tokens and compress") {
    val merges = Bpe.trainMerges(docs, col("text"), 16, 3)
    // later rounds must build on earlier merges: some merged symbol is
    // itself a merge product (length > 2 result)
    assert(merges.exists { case (x, y) => (x + y).length > 2 })
    val counts = docs.select(
      Bpe.tokenCount(col("text"), merges).cast("long").as("bpe"),
      Bpe.tokenCount(col("text"), Nil).cast("long").as("chars"))
      .agg(sum("bpe"), sum("chars")).collect()(0)
    val (bpe, chars) = (counts.getLong(0), counts.getLong(1))
    // 48 learned merges must compress the corpus well below raw chars
    assert(bpe < chars * 0.8, s"bpe=$bpe not < 0.8 * chars=$chars")
  }

  test("hand example: merges apply in order, leftmost non-overlapping") {
    val df = spark.createDataFrame(Seq(Tuple1("aba abab! ab"))).toDF("t")
    // spaced: " a b a | a b a b | a b "
    val got = df.select(
      array_join(Bpe.encode(col("t"), Seq(("a", "b"), ("ab", "a"))), ",")
        .as("g")).collect()(0).getString(0)
    // merge (a,b), non-overlapping: " ab a | ab a b | ab " (the shared
    // space between adjacent occurrences blocks the second of a pair);
    // merge (ab,a): " aba | aba b | ab "
    assert(got == "aba,aba,b,ab", got)
  }

  test("pack budgets hold under BPE token counts (property)") {
    val merges = Bpe.trainMerges(docs, col("text"), 16, 2)
    val sized = docs.select(col("doc_id"), col("source"),
      Bpe.tokenCount(col("text"), merges).cast("long").as("n_toks"))
    // every doc's starting offset lies in [shard*512, (shard+1)*512)
    val badCnt = Pack.byBudget(sized, col("source"), col("doc_id"),
      col("n_toks"), 512L)
      .filter(col("offset") < col("shard") * 512L ||
        col("offset") >= (col("shard") + 1) * 512L)
      .count()
    assert(badCnt == 0L)
    // offsets are consecutive: offset(next) = offset(prev) + n_toks(prev)
    val rows = Pack.byBudget(sized, col("source"), col("doc_id"),
      col("n_toks"), 512L)
      .orderBy("source", "doc_id").collect()
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(3) == a.getLong(3) + a.getLong(2))
        case _ =>
      }
    }
  }

  test("q_bpe_eval == per-source compression recomputed from the stored-table encode") {
    // clear stale merge-table caches first (other sf dirs share the
    // prefix in the same tmpdir): the recomputation below reads the one
    // cache dir left standing, so it must be THIS corpus's (ADVICE r17)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    tmp.listFiles().filter(_.getName.startsWith("graft_bpemerges_cache_"))
      .foreach { c =>
        val pth = new org.apache.hadoop.fs.Path(c.getAbsolutePath)
        pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(pth, true): Unit
      }
    val got = SparkEntry.queries("q_bpe_eval")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // recompute per-source (n_docs, Σtokens, Σchars) from the stored
    // merge table's encode — the same model q_bpe_encode_from_table reads
    val caches = tmp.listFiles().filter(_.getName.startsWith("graft_bpemerges_cache_"))
    assert(caches.nonEmpty, "no stored merge table found")
    val merges = spark.read.parquet(caches.head.getAbsolutePath)
      .orderBy("ord").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val rows = docs.select(col("source"), col("text"),
        size(Bpe.encode(col("text"), merges)).cast("long").as("nt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = rows.groupBy(_._1).map { case (src, g) =>
      val nd = g.length.toLong
      val nt = g.map(_._3).sum
      val nc = g.map(_._2.length.toLong).sum
      src -> (nd, nt, nc, nc * 1000000L / nt)
    }
    assert(got == expect, "q_bpe_eval drifted from the driver-side recomputation")
    // the metric is meaningful: BPE compresses (>1 char per token) on
    // every source of this corpus
    got.values.foreach { case (_, _, _, micro) => assert(micro > 1000000L) }
  }

  test("encode from the stored merge table == the inlined-literal encode, and the model is reused") {
    val inlined = SparkEntry.queries("q_bpe_encode")(spark, sf)
      .collect().map(_.toString).toSeq
    val fromTable = SparkEntry.queries("q_bpe_encode_from_table")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromTable == inlined, "stored-model encode drifted from the inlined chain")
    val caches = new java.io.File(sys.props("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft_bpemerges_cache_"))
    assert(caches.nonEmpty, "no stored merge table found")
    val markers = caches.map(c => new java.io.File(c, "_SUCCESS")).filter(_.exists())
    val before = markers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val again = SparkEntry.queries("q_bpe_encode_from_table")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == inlined)
    markers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"merge table ${m.getParent} was rewritten on a cache hit")
    }
  }

  test("q_bpe_serve_current == q_bpe_refresh: the pointer serves the retrained version; registry holds only the pointed one") {
    val viaPointer = SparkEntry.queries("q_bpe_serve_current")(spark, sf)
      .collect().map(_.toString).toSeq
    // the retrained merge table, recomputed from first principles
    val toks = Bpe.encode(col("text"), Bpe.trainMergesHist(docs, col("text"), 16, 3))
    val retrained = docs.filter(col("doc_id") < 300)
      .select(col("doc_id"), size(toks).cast("long").as("n_bpe"),
        array_join(slice(toks, 1, 12), ",").as("head"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(viaPointer == retrained,
      "pointer serve drifted from the encode under the retrained merges")
    // retention: after the staged chain (v0 -> retrain v1 -> flip -> gc),
    // exactly the pointed version survives in the registry dir. Resolve
    // THIS sf's registry through the same ArtifactCache keying the query
    // uses (already built -> returns instantly) instead of globbing
    // tmpdir, which would sweep in stale/other-sf/gate-pinned registries
    // (ADVICE r19)
    val reg = new java.io.File(
      graft.queries.PipelineQueries.materializedBpeRegistryDir(spark, sf))
    assert(reg.isDirectory, "no tokenizer registry dir found")
    val versions = reg.listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).sorted.toSeq
    assert(versions == Seq("v1"),
      s"registry ${reg.getName} should hold exactly the pointed v1: $versions")
  }

  test("drift-gated tokenizer refresh: the panel PSI gates both ways; the trigger column IS the panel readout") {
    val psiKey = "spark.graft.bpe.refreshPsiMicro"
    // the two model generations, recomputed from first principles
    val frozenM = Bpe.trainMergesHist(
      docs.filter(col("doc_id") % 4 =!= 3), col("text"), 16, 3)
    val retrainedM = Bpe.trainMergesHist(docs, col("text"), 16, 3)
    def nBpeUnder(merges: Seq[(String, String)]): Map[String, Long] =
      docs.select(col("source"),
          Bpe.tokenCount(col("text"), merges).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("nt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def servedNBpe(): Map[String, Long] =
      SparkEntry.queries("q_bpe_refresh_gated")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    try {
      // gate pinned OFF -> the frozen base-slice table keeps serving
      spark.conf.set(psiKey, Long.MaxValue.toString)
      val frozen = servedNBpe()
      assert(frozen.nonEmpty)
      frozen.foreach { case (src, n) =>
        assert(n == nBpeUnder(frozenM)(src),
          s"un-tripped drift gate must serve the frozen merges ($src)")
      }
      // default (-1, PSI >= 0 always trips) -> the retrained table serves
      spark.conf.unset(psiKey)
      servedNBpe().foreach { case (src, n) =>
        assert(n == nBpeUnder(retrainedM)(src),
          s"tripped drift gate must serve the retrained merges ($src)")
      }
    } finally spark.conf.unset(psiKey)
    // monitoring -> action edge: the query's trigger column equals
    // q_drift_panel's tok_est terms summed per source, bit-for-bit
    val panel = SparkEntry.queries("q_drift_panel")(spark, sf)
      .filter(col("feature") === "tok_est")
      .groupBy("source").agg(sum("psi_term_micro").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q_bpe_refresh_gated")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == panel,
      "q_bpe_refresh_gated's psi_micro drifted from the q_drift_panel readout")
  }

  test("tokenizer refresh: threshold wiring both ways; retrained merges never compress worse") {
    val cptKey = "spark.graft.bpe.refreshCptMicro"
    def encodeUnder(merges: Seq[(String, String)]): Seq[String] = {
      val toks = Bpe.encode(col("text"), merges)
      docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), size(toks).cast("long").as("n_bpe"),
          array_join(slice(toks, 1, 12), ",").as("head"))
        .orderBy("doc_id").collect().map(_.toString).toSeq
    }
    // the two model generations, recomputed from first principles: the
    // frozen base-slice trainer and the current-corpus retrain
    val frozenM = Bpe.trainMergesHist(
      docs.filter(col("doc_id") % 4 =!= 3), col("text"), 16, 3)
    val retrainedM = Bpe.trainMergesHist(docs, col("text"), 16, 3)
    try {
      // compression at/above threshold (0 never beats any corpus) ->
      // the FROZEN table keeps serving
      spark.conf.set(cptKey, "0")
      assert(SparkEntry.queries("q_bpe_refresh")(spark, sf)
          .collect().map(_.toString).toSeq == encodeUnder(frozenM),
        "an un-triggered tokenizer refresh must serve the frozen merges")
      // default (forced): the served encode is the current-corpus retrain
      spark.conf.unset(cptKey)
      assert(SparkEntry.queries("q_bpe_refresh")(spark, sf)
          .collect().map(_.toString).toSeq == encodeUnder(retrainedM),
        "a triggered refresh must serve the retrained merge table")
    } finally spark.conf.unset(cptKey)
    // The law that justifies the verb — retraining on the corpus being
    // encoded doesn't compress it worse than a frozen table — is NOT a
    // theorem for greedy BPE (each round maximizes immediate pair
    // counts, not final token count), and this fixture PROVES it: at
    // sf0.001 (500 docs) the full-corpus retrain lands at 80264 tokens
    // vs the base-slice table's 78420 — tie-break noise in a tiny
    // histogram cascades through later rounds. That is exactly why the
    // verb is TRIGGER-GATED (retrain only on measured compression
    // decay) instead of unconditional. At the training sf (sf0.01,
    // 5000 docs — the same sf the q_bpe_train trajectory is pinned at)
    // the signal dominates the noise and the law holds against BOTH
    // frozen shapes: the as-of base slice and a single-domain table
    // facing a mixed corpus (the real drift scenario).
    val docs001 = Tables.t(spark, "/root/testdata/sf0.01", "documents").cache()
    try {
      def nBpe001(merges: Seq[(String, String)]): Long =
        docs001.select(Bpe.tokenCount(col("text"), merges).cast("long").as("n"))
          .agg(sum("n")).collect()(0).getLong(0)
      val base001 = Bpe.trainMergesHist(
        docs001.filter(col("doc_id") % 4 =!= 3), col("text"), 16, 3)
      val src0Only = Bpe.trainMergesHist(
        docs001.filter(col("source") === "src0"), col("text"), 16, 3)
      val retrained001 = Bpe.trainMergesHist(docs001, col("text"), 16, 3)
      val n = nBpe001(retrained001)
      assert(n <= nBpe001(base001),
        "retrain compressed worse than the as-of frozen table at the training sf")
      assert(n <= nBpe001(src0Only),
        "retrain compressed worse than a single-domain frozen table on the mixed corpus")
    } finally docs001.unpersist()
  }
}
