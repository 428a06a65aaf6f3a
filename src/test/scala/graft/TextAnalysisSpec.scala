package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextAnalysis}

class TextAnalysisSpec extends SparkTestBase {

  test("stats: counts line up with manual tokenization") {
    import spark.implicits._
    val df = Seq((1L, "a bb a ccc")).toDF("doc_id", "text")
    val r = TextAnalysis.stats(df, "text").collect()(0)
    assert(r.getAs[Long]("n_chars2") == 10)
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("n_unique_tokens") == 3)
    assert(r.getAs[Long]("tok_est") == 4)
  }

  test("token estimate splits punctuation like a subword tokenizer would") {
    import spark.implicits._
    val df = Seq((1L, "hello, world! (it works)")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.tokenEstimate(col("text")).as("n")).collect()(0).getInt(0)
    // hello , world ! ( it works ) => 8 pieces
    assert(n == 8)
  }

  test("langId picks the language whose stopwords dominate") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "der Hund und die Katze in dem Haus"),
      (3L, "el perro y la casa es grande para todos"),
      (4L, "xyzzy qwerty plugh")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(TextAnalysis.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "es")
    assert(out(4L) == "und")
  }

  test("quality score is within [0,1] and favors normal text") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away home"),
      (2L, "$$$ ### !!! @@@ %%% ^^^ &&& *** ((( )))")).toDF("id", "text")
    val q = df.select(col("id"),
        TextAnalysis.qualityScore(col("text"), TextAnalysis.tokens(col("text"))).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }

  test("fingerprint64 is deterministic and content-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "abd")).toDF("id", "text")
    val fps = df.select(graft.functions.fingerprint64(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("winnow fingerprints overlap heavily for near-identical docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog many many times today"
    val df = Seq((1L, base), (2L, base + " extra"), (3L, "totally unrelated content"))
      .toDF("id", "text")
    val sets = df.select(graft.functions.winnow_fingerprints(col("text"), 5, 4).as("w"))
      .collect().map(_.getSeq[Long](0).toSet)
    val j12 = (sets(0) intersect sets(1)).size.toDouble / (sets(0) union sets(1)).size
    val j13 = (sets(0) intersect sets(2)).size.toDouble / (sets(0) union sets(2)).size
    assert(j12 > 0.7, s"near-identical winnow jaccard $j12")
    assert(j13 < 0.2, s"unrelated winnow jaccard $j13")
  }

  test("frame sampling: frame count and sizes follow frameSize/stride") {
    import spark.implicits._
    val df = Seq((1L, "x" * 200)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
        Multimodal.packBinary(df, "doc_id", "text"), frameSize = 64, stride = 2)
      .collect().sortBy(_.frame_idx)
    // 200 bytes -> 4 frames (64,64,64,8), stride 2 keeps idx 0 and 2
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames.map(_.frame_bytes).toSeq == Seq(64L, 64L))
    // identical content -> identical checksums
    assert(frames(0).checksum == frames(1).checksum)
  }

  test("resize stub shrinks payload by the factor and keeps meta truthful") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghij")).toDF("doc_id", "text")  // 10 bytes
    val out = Multimodal.resizeStub(Multimodal.packBinary(df, "doc_id", "text"), factor = 4)
      .select(col("doc_id"), col("content"), col("meta.n_bytes").as("n"), col("meta.fmt").as("fmt"))
      .collect()(0)
    assert(new String(out.getAs[Array[Byte]]("content"), "UTF-8") == "aei") // bytes 0,4,8
    assert(out.getAs[Long]("n") == 3)
    assert(out.getAs[String]("fmt") == "txt/resized")
  }

  test("unaccent folds marks, is null-safe, and normalize canonicalizes") {
    import spark.implicits._
    val df = Seq(
      (1L, "Çafé—Ñaïve  ZÜRICH"),
      (2L, "plain ascii"),
      (3L, null.asInstanceOf[String])).toDF("id", "s")
    val got = df.select(col("id"),
        graft.functions.unaccent(col("s")).as("plain"),
        graft.operators.TextAnalysis.normalize(col("s")).as("norm"))
      .orderBy("id").collect()
    assert(got(0).getString(1) == "Cafe—Naive  ZURICH")
    assert(got(0).getString(2) == "cafe naive zurich")
    assert(got(1).getString(1) == "plain ascii") // fast path: untouched
    assert(got(2).isNullAt(1) && got(2).isNullAt(2))
    // SQL registry surface
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT unaccent('über') AS u").collect()(0).getString(0) == "uber")
  }

  test("shingle UDTF streams (pos, shingle) rows; SQL LATERAL VIEW works") {
    import spark.implicits._
    val out = Seq(("abcdef")).toDF("s")
      .select(graft.functions.explode_shingles(col("s"), 3).as(Seq("pos", "shingle")))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((0, "abc"), (1, "bcd"), (2, "cde"), (3, "def")))
    // short and null inputs yield no rows instead of erroring
    assert(Seq(("ab")).toDF("s")
      .select(graft.functions.explode_shingles(col("s"), 3)).count() == 0)
    assert(Seq((null.asInstanceOf[String])).toDF("s")
      .select(graft.functions.explode_shingles(col("s"), 3)).count() == 0)
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT t.pos, t.shingle FROM (SELECT 'xyzw' AS s)
        |LATERAL VIEW explode_shingles(s, 2) t AS pos, shingle""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(viaSql == Seq((0, "xy"), (1, "yz"), (2, "zw")))
  }

  test("observe metrics ride the job: row/null/distinct counters delivered") {
    val (listener, sink) = graft.operators.Metrics.listen(spark)
    try {
      val docs = Tables.t(spark, sf, "documents")
      graft.operators.Metrics.observeQuality(docs, "docs_quality", "lang", "text")
        .write.format("noop").mode("overwrite").save()
      // listener fires asynchronously after the action completes
      val deadline = System.currentTimeMillis() + 10000
      while (!sink.contains("docs_quality") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m = sink.getOrElse("docs_quality", fail("no observation delivered"))
      val expected = docs.count()
      assert(m("n_rows") == expected)
      assert(m("lang_nulls") == 0L)
      val distinct = m("lang_approx_distinct").asInstanceOf[Long]
      assert(distinct >= 4 && distinct <= 7, s"lang approx distinct off: $distinct")
    } finally spark.listenerManager.unregister(listener)
  }

  test("char_entropy: uniform/constant/multibyte cases exact") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaa"),          // constant -> 0 bits
      (2L, "abab"),          // two equiprobable symbols -> 1 bit
      (3L, "abcd"),          // four equiprobable -> 2 bits
      (4L, "中中文文"),       // multibyte, two equiprobable code points -> 1 bit
      (5L, "")               // empty -> 0 by convention
    ).toDF("id", "s")
    val got = df.select(col("id"), graft.functions.char_entropy(col("s")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0 && got(5L) == 0.0)
    assert(math.abs(got(2L) - 1.0) < 1e-12 && math.abs(got(4L) - 1.0) < 1e-12)
    assert(math.abs(got(3L) - 2.0) < 1e-12)
    // SQL registration path
    df.createOrReplaceTempView("ce_in")
    val viaSql = spark.sql("SELECT char_entropy(s) FROM ce_in WHERE id = 3")
      .collect()(0).getDouble(0)
    assert(math.abs(viaSql - 2.0) < 1e-12)
  }

  test("decontaminate drops exactly the docs sharing a benchmark n-gram") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon suffix words"), // contains the 5-gram
      (2L, "alpha beta gamma delta DIFFERENT epsilon zeta"),            // no shared 5-gram
      (3L, "totally unrelated text with other content here")
    ).toDF("doc_id", "text")
    val kept = graft.operators.Decontaminate
      .decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
    // short docs (< n tokens) are never dropped and never crash
    val tiny = Seq((9L, "one two")).toDF("doc_id", "text")
    assert(graft.operators.Decontaminate
      .decontaminate(tiny, bench, "doc_id", "text", n = 5).count() == 1)
  }

  test("kmeansStep: counts conserve rows; assignment is argmax-cosine; centroid is the mean") {
    import spark.implicits._
    val emb = Tables.t(spark, sf, "embeddings")
    val cents = graft.operators.Similarity.centroidRows(
      emb.filter(col("vec_id") < 8), "vec_id", "embedding")
    val out = graft.operators.Similarity
      .kmeansStep(emb, "vec_id", "embedding", cents).cache()
    assert(out.agg(sum("n_assigned")).collect()(0).getLong(0) == emb.count())
    // every centroid has the full dimensionality and finite components
    val dims = out.select(size(col("centroid"))).collect().map(_.getInt(0)).toSet
    assert(dims == Set(64), s"centroid dims $dims")
    // spot-check one vector's assignment against a driver-side argmax
    val v = emb.filter(col("vec_id") === 100)
      .select("embedding").collect()(0).getSeq[Float](0)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val want = cents.maxBy { case (cid, cv) => (cos(v, cv), cid) }._1
    val assignedCell = emb.select(col("vec_id"),
        org.apache.spark.sql.functions.array_max(org.apache.spark.sql.functions.array(
          cents.map { case (cid, cv) =>
            struct(graft.functions.cosine_sim(col("embedding"), typedLit(cv)).as("sim"),
              lit(cid).as("cell"))
          }: _*)).getField("cell").as("cell"))
      .filter(col("vec_id") === 100).collect()(0).getInt(1)
    assert(assignedCell == want)
  }

  test("multimodal pack/decode: metadata consistent with payload") {
    val docs = Tables.t(spark, sf, "documents").limit(20)
    val out = Multimodal.decodeFeatures(Multimodal.packBinary(docs, "doc_id", "text"))
    val joined = out.toDF().join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).cast("long").as("len"), col("n_segments"),
        size(split(col("text"), " ")).as("n_words"))
      .collect()
    joined.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))      // ascii corpus: bytes == chars
      assert(r.getInt(2) == r.getInt(3))        // segments == space-separated words
    }
  }

  test("repetition signals match hand-computed gram counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),     // top bigram "a b" x3 of 5; 2 distinct 5-grams
      (2L, "x x x x x x"),     // all bigrams equal; both 5-grams identical
      (3L, "p q r s"),         // no 5-grams at all
      (4L, "   "))             // whitespace-only: zero tokens, no NaN
      .toDF("id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(got(1L) == ((6L, 3L, 2L, 2L, 1.0, 0.0)), s"doc1: ${got(1L)}")
    // overlapping "x x" repeats would give 10/6 > 1; the fraction clamps at 1.0
    assert(got(2L) == ((6L, 5L, 2L, 1L, 1.0, 0.5)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((4L, 1L, 0L, 0L, 0.5, 0.0)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0L, 0L, 0.0, 0.0)), s"doc4: ${got(4L)}")
  }

  test("merged HLL sketches estimate the exact distinct count within 5%") {
    val q = SparkEntry.queries("q_hll_merge")(spark, sf)
    val est = q.filter(col("source") === "ALL").collect()(0).getLong(1)
    val exact = Tables.t(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .agg(countDistinct("w")).collect()(0).getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"merged HLL estimate $est vs exact $exact")
  }

  test("unigram NLL matches a hand-computed corpus LM") {
    import spark.implicits._
    // counts: a=2 b=2 c=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val got = TextAnalysis.unigramNll(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val costA = math.round(-math.log(2.0 / 5.0) * 1e6) // == cost of b
    val costC = math.round(-math.log(1.0 / 5.0) * 1e6)
    assert(got(1L) == ((3L, 3 * costA)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((2L, costA + costC)), s"doc2: ${got(2L)}")
  }

  test("unigram NLL distributed path (vocab > broadcast cap) is bit-identical") {
    // force the explode+join fallback with a 1-word cap and compare it to
    // the broadcast-map path over the real documents table — per-token
    // rounding makes both summation orders agree exactly
    val docs = Tables.t(spark, sf, "documents")
    val fast = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dist = TextAnalysis.unigramNll(docs, "doc_id", "text", maxBroadcastVocab = 1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dist == fast)
  }

  test("bigram NLL matches a hand-computed conditional LM, incl. a 1-token doc") {
    import spark.implicits._
    // bigrams: "a a"×1, "a b"×2; firsts: a=3 b=2 c=1
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "c")).toDF("id", "text")
    val got = TextAnalysis.bigramNll(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val costAA = math.round(-math.log(1.0 / 3.0) * 1e6)
    val costAB = math.round(-math.log(2.0 / 3.0) * 1e6)
    assert(got(1L) == ((2L, costAA + costAB)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((1L, costAB)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((0L, 0L)), s"doc3 (no bigrams): ${got(3L)}")
  }

  test("bigram NLL distributed path (vocab > broadcast cap) is bit-identical") {
    val docs = Tables.t(spark, sf, "documents")
    val fast = TextAnalysis.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dist = TextAnalysis.bigramNll(docs, "doc_id", "text", maxBroadcastVocab = 1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dist == fast)
  }

  test("zipfFit recovers slope -1 on an exactly-Zipfian term distribution") {
    import spark.implicits._
    // term freqs 12,6,4,3 = 12/r at consecutive ranks 1..4: ln f =
    // ln 12 - ln r, a perfect slope of -1 (up to log micro-quantization)
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(3)("d")).mkString(" ")
    val df = Seq(("web", text)).toDF("src", "text")
    val r = TextAnalysis.zipfFit(df, "src", "text").collect()(0)
    assert(r.getString(0) == "web" && r.getLong(1) == 4L) // vocab
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-3, s"slope ${r.getDouble(2)}")
  }

  test("hashedLinearScore matches a hand-rolled md5-bucket scorer") {
    import spark.implicits._
    val df = Seq((1L, "Alpha beta gamma"), (2L, "beta beta"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.hashedLinearScore(df, "doc_id", "text", buckets = 256)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weight(t: String): Long = {
      val b = java.lang.Long.parseLong(md5hex(t).substring(0, 8), 16) % 256
      b * 2654435761L % 1997L - 998L
    }
    def score(text: String): Long =
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).map(weight).sum
    val want = Seq(
      (1L, score("Alpha beta gamma"), 3L),
      (2L, score("beta beta"), 2L),
      (3L, score("x"), 1L))
    assert(got == want)
    // repeated token contributes twice; case is folded before hashing
    assert(got(1)._2 == 2 * weight("beta"))
  }

  /** Independent model of aHash64's 64-block mean-threshold fingerprint. */
  private def modelAHash(text: String): Long = {
    val b = text.getBytes("UTF-8").map(_ & 0xff)
    val n = b.length.toLong
    val tot = b.map(_.toLong).sum
    var h = 0L
    for (j <- 0 until 64) {
      val lo = (j * n / 64).toInt
      val hi = ((j + 1) * n / 64).toInt
      val s = b.slice(lo, hi).map(_.toLong).sum
      h = (h << 1) | (if (s * n > tot * (hi - lo)) 1L else 0L)
    }
    h
  }

  test("aHash64 matches the block-mean model; empty payload hashes to 0") {
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog " * 5,
      "aaaaaaaaAAAAAAAA" * 8, "z", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Multimodal.aHash64(Multimodal.packBinary(df, "doc_id", "text"))
      .collect().map(p => p.doc_id -> p.phash).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == modelAHash(t), s"doc $i")
    }
    assert(got(3L) == 0L)
  }

  test("phashNearDup banding is recall-exact vs the all-pairs definition") {
    val hashes = Multimodal.aHash64(
      Multimodal.packBinary(Tables.t(spark, sf, "documents"), "doc_id", "text"))
      .toDF()
    val banded = Multimodal.phashNearDup(hashes, "doc_id", "phash", maxHamming = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1))
    val allPairs = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 13
    } yield (ia, ib, d.toLong)).toSet
    assert(banded == allPairs)
    assert(allPairs.nonEmpty, "corpus should contain at least one near pair")
  }

  test("phashNearDup rejects thresholds beyond the pigeonhole guarantee") {
    import spark.implicits._
    val df = Seq((1L, 0L)).toDF("doc_id", "phash")
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDup(df, "doc_id", "phash", maxHamming = 16)
    }
  }

  test("knBigramNll matches a hand-computed Kneser-Ney reference") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b c c"), (3L, "b a"))
      .toDF("doc_id", "text")
    // reference model, same statistics and IEEE operation order
    val bgs = Seq("a b", "b a", "a b", "b c", "a b", "b c", "c c", "b a")
    val c2 = bgs.groupBy(identity).map { case (b, o) => b -> o.size.toDouble }
    val types = c2.keys.toSeq
    val c1 = types.groupBy(_.split(" ")(0))
      .map { case (w, bs) => w -> bs.map(c2).sum }
    val n1fwd = types.groupBy(_.split(" ")(0)).map { case (w, bs) => w -> bs.size.toDouble }
    val n1rev = types.groupBy(_.split(" ")(1)).map { case (w, bs) => w -> bs.size.toDouble }
    val nt = types.size.toDouble
    def cost(b: String): Long = {
      val Array(w1, w2) = b.split(" ")
      val p = math.max(c2(b) - 0.75, 0.0) / c1(w1) +
        0.75 * n1fwd(w1) / c1(w1) * (n1rev(w2) / nt)
      math.round(-math.log(p) * 1e6)
    }
    def docNll(text: String): (Long, Long) = {
      val t = text.split(" ")
      val bg = t.init.zip(t.tail).map { case (a, b) => s"$a $b" }
      (bg.length.toLong, bg.map(cost).sum)
    }
    val got = TextAnalysis.knBigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Seq((1L, "a b a b c"), (2L, "a b c c"), (3L, "b a")).map {
      case (id, s) => val (n, nll) = docNll(s); (id, n, nll) }
    assert(got == want)
    // seen-mass sanity: for every context, Σ_seen P_KN <= 1
    types.groupBy(_.split(" ")(0)).foreach { case (w1, bs) =>
      val s = bs.map { b =>
        val w2 = b.split(" ")(1)
        math.max(c2(b) - 0.75, 0.0) / c1(w1) +
          0.75 * n1fwd(w1) / c1(w1) * (n1rev(w2) / nt)
      }.sum
      assert(s <= 1.0 + 1e-12, s"context $w1 leaks probability: $s")
    }
  }

  test("knBigramNll: both scorer paths and any partitioning agree") {
    val docs = Tables.t(spark, sf, "documents").limit(40)
    val viaMap = TextAnalysis.knBigramNll(docs, "doc_id", "text",
      maxBroadcastVocab = 100000L).orderBy("doc_id").collect().toSeq
    val viaJoin = TextAnalysis.knBigramNll(docs.repartition(7), "doc_id", "text",
      maxBroadcastVocab = 0L).orderBy("doc_id").collect().toSeq
    assert(viaMap == viaJoin)
  }

  test("logistic training: N gradient steps reduce loss on a planted-separable fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    // planted separability: positive docs speak one vocabulary, negative
    // docs another (disjoint token sets -> a linear separator exists)
    val pos = (1 to 60).map(i => (s"alpha beta gamma delta epsilon tok$i", 1L))
    val neg = (1 to 60).map(i => (s"omega sigma lambda kappa theta neg$i", 0L))
    val df = (pos ++ neg).toDF("text", "y").cache()
    val y = col("y")
    val zeros = Seq.fill(256)(0L)
    val l0 = TextAnalysisSpec.logisticLoss(df, "text", y, zeros)
    assert(math.abs(l0 - math.log(2.0)) < 1e-9) // zero weights = ln 2 exactly
    val w5 = TextAnalysis.logisticTrainN(df, "text", y, zeros,
      steps = 5, lrMicro = 2000000L, n = 120L)
    val l5 = TextAnalysisSpec.logisticLoss(df, "text", y, w5)
    val w10 = TextAnalysis.logisticTrainN(df, "text", y, w5,
      steps = 5, lrMicro = 2000000L, n = 120L)
    val l10 = TextAnalysisSpec.logisticLoss(df, "text", y, w10)
    assert(l5 < l0 * 0.8, s"5 steps did not train: $l0 -> $l5")
    assert(l10 < l5, s"further steps did not train: $l5 -> $l10")
    // the gradient step itself is partitioning-invariant (exact integer
    // aggregate over micro-quantized residuals)
    val g1 = TextAnalysis.logisticGradStep(df, "text", y, w5)
      .orderBy("bucket").collect().toSeq
    val g2 = TextAnalysis.logisticGradStep(df.repartition(7), "text", y, w5)
      .orderBy("bucket").collect().toSeq
    assert(g1 == g2)
    df.unpersist()
  }

  test("L2 bounds the weights where plain GD grows them; reg training still reduces loss on a non-separable fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // separable fixture: unregularized full-batch GD keeps pushing the
    // margin -> weights grow monotonically; L2 shrinkage caps them
    val pos = (1 to 60).map(i => (s"alpha beta gamma delta epsilon tok$i", 1L))
    val neg = (1 to 60).map(i => (s"omega sigma lambda kappa theta neg$i", 0L))
    val sep = (pos ++ neg).toDF("text", "y").cache()
    val y = col("y")
    val plain = TextAnalysis.logisticTrainN(sep, "text", y, Seq.fill(256)(0L),
      steps = 20, lrMicro = 2000000L, n = 120L)
    val reg = TextAnalysis.logisticTrainReg(sep, "text", y, Seq.fill(257)(0L),
      steps = 20, lrMicro = 2000000L, n = 120L, l2Micro = 300000L)
    val maxPlain = plain.map(math.abs).max
    val maxReg = reg.dropRight(1).map(math.abs).max // features only (bias unregularized)
    assert(maxReg < maxPlain,
      s"L2 did not bound the weights: reg $maxReg vs plain $maxPlain")
    sep.unpersist()
    // non-separable fixture (conflicting labels on identical text, 2:1):
    // the regularized step still moves loss toward the 2/3 optimum
    val conflict = ((1 to 40).map(_ => ("alpha beta gamma", 1L)) ++
      (1 to 20).map(_ => ("alpha beta gamma", 0L))).toDF("text", "y").cache()
    val l0 = TextAnalysisSpec.logisticLoss(conflict, "text", y, Seq.fill(256)(0L))
    val w = TextAnalysis.logisticTrainReg(conflict, "text", y, Seq.fill(257)(0L),
      steps = 5, lrMicro = 1000000L, n = 60L, l2Micro = 10000L)
    val l5 = TextAnalysisSpec.logisticLoss(conflict, "text", y, w.dropRight(1))
    assert(l5 < l0, s"regularized steps did not reduce loss: $l0 -> $l5")
    conflict.unpersist()
  }

  test("the bias term learns the base rate no feature can express; bias gradient row counts documents") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // token-free docs, 4:1 positive — only an intercept can fit this
    val df = ((1 to 80).map(_ => ("", 1L)) ++ (1 to 20).map(_ => ("", 0L)))
      .toDF("text", "y").cache()
    val y = col("y")
    val w = TextAnalysis.logisticTrainReg(df, "text", y, Seq.fill(257)(0L),
      steps = 10, lrMicro = 4000000L, n = 100L, l2Micro = 0L)
    assert(w.last > 0L, s"bias did not learn the positive base rate: ${w.last}")
    // loss under the learned intercept beats the zero model's ln 2:
    // score margins by hand (no tokens -> margin = bias)
    val p = 1.0 / (1.0 + math.exp(-w.last / 1e6))
    val lossBias = -(0.8 * math.log(p) + 0.2 * math.log(1 - p))
    assert(lossBias < math.log(2.0) - 0.05, s"intercept fit too weak: $lossBias")
    // the bias gradient row aggregates once per DOCUMENT
    val g = TextAnalysis.logisticGradStepBias(df, "text", y, Seq.fill(257)(0L))
      .filter(col("bucket") === 256L).collect()
    assert(g.length == 1 && g(0).getLong(2) == 100L,
      s"bias row must count documents: ${g.toSeq}")
    // and the biased gradient step is partitioning-invariant
    val mixed = ((1 to 30).map(i => (s"alpha tok$i", 1L)) ++
      (1 to 30).map(i => (s"omega neg$i", 0L))).toDF("text", "y")
    val w1 = (0 until 257).map(b => (b * 37L) % 900L - 450L)
    val a = TextAnalysis.logisticGradStepBias(mixed, "text", y, w1)
      .orderBy("bucket").collect().toSeq
    val b = TextAnalysis.logisticGradStepBias(mixed.repartition(7), "text", y, w1)
      .orderBy("bucket").collect().toSeq
    assert(a == b)
    df.unpersist()
  }

  test("q_linear_train_step gradient matches a driver-side recomputation") {
    // independent re-derivation of the registered query's step on a tiny
    // slice: margins, sigmoid residual quantization, bucket sums
    val docs = Tables.t(spark, sf, "documents").limit(50).cache()
    val w = (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L)
    import org.apache.spark.sql.functions.{col, when}
    val got = TextAnalysis.logisticGradStep(docs, "text",
        when(col("source") === "src0", 1L).otherwise(0L), w)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = docs.select("text", "source").collect()
    def bucketOf(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
    rows.foreach { r =>
      val toks = r.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val yv = if (r.getString(1) == "src0") 1.0 else 0.0
      val margin = toks.map(t => w(bucketOf(t))).sum
      // Spark round = BigDecimal HALF_UP (away from zero on .5), which
      // Java Math.round does NOT match for negative halves
      val rm = BigDecimal((1.0 / (1.0 + math.exp(-margin / 1e6)) - yv) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      toks.foreach { t =>
        val b = bucketOf(t).toLong
        val (g, n) = acc.getOrElse(b, (0L, 0L))
        acc(b) = (g + rm, n + 1)
      }
    }
    val want = acc.toSeq.map { case (b, (g, n)) => (b, g, n) }.sortBy(_._1)
    assert(got == want)
    docs.unpersist()
  }

  test("linearMargins under the pure bucket weights == hashedLinearScore") {
    import spark.implicits._
    val df = Seq((1L, "Alpha beta gamma"), (2L, "beta beta"), (3L, "x"))
      .toDF("doc_id", "text")
    val pure = (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L)
    val a = TextAnalysis.linearMargins(df, "doc_id", "text", pure)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val b = TextAnalysis.hashedLinearScore(df, "doc_id", "text", buckets = 256)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a == b, "explicit-weights scorer drifted from the baked scorer")
  }

  test("q_linear_train_apply == a full driver-side train-then-score recomputation") {
    // independent end-to-end re-derivation: two hand-computed GD steps
    // (margins, HALF_UP micro residuals, bucket grads, truncating Long
    // update), then hand scoring under the step-2 weights.
    val docs = Tables.t(spark, sf, "documents")
    val rows = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
    val n = rows.length.toLong
    def bucketOf(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    def toks(s: Option[String]): Array[String] =
      s.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty)).getOrElse(Array.empty)
    def stepOnce(w: Vector[Long]): Vector[Long] = {
      val grads = scala.collection.mutable.Map[Int, Long]()
      rows.foreach { case (_, text, src) =>
        val ts = toks(text)
        val yv = if (src == "src0") 1.0 else 0.0
        val margin = ts.map(t => w(bucketOf(t))).sum
        val rm = BigDecimal((1.0 / (1.0 + math.exp(-margin / 1e6)) - yv) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        ts.foreach(t => grads(bucketOf(t)) = grads.getOrElse(bucketOf(t), 0L) + rm)
      }
      w.zipWithIndex.map { case (wj, j) =>
        wj - 1000000L * grads.getOrElse(j, 0L) / (1000000L * n)
      }
    }
    val w0 = (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L).toVector
    val w2 = stepOnce(stepOnce(w0))
    val want = rows.map { case (id, text, _) =>
      val ts = toks(text)
      (id, ts.map(t => w2(bucketOf(t))).sum, ts.length.toLong)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q_linear_train_apply")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, "train->apply query drifted from the hand recomputation")
  }

  test("q_classifier_eval == a hand-computed confusion matrix under the trained weights") {
    // same two hand-derived GD steps as the train->apply recomputation,
    // then hand confusion cells (pred = margin > 0) and the exact
    // integer-micro rate formulas
    val docs = Tables.t(spark, sf, "documents")
    val rows = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
    val n = rows.length.toLong
    def bucketOf(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    def toks(s: Option[String]): Array[String] =
      s.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty)).getOrElse(Array.empty)
    def stepOnce(w: Vector[Long]): Vector[Long] = {
      val grads = scala.collection.mutable.Map[Int, Long]()
      rows.foreach { case (_, text, src) =>
        val ts = toks(text)
        val yv = if (src == "src0") 1.0 else 0.0
        val margin = ts.map(t => w(bucketOf(t))).sum
        val rm = BigDecimal((1.0 / (1.0 + math.exp(-margin / 1e6)) - yv) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        ts.foreach(t => grads(bucketOf(t)) = grads.getOrElse(bucketOf(t), 0L) + rm)
      }
      w.zipWithIndex.map { case (wj, j) =>
        wj - 1000000L * grads.getOrElse(j, 0L) / (1000000L * n)
      }
    }
    val w0 = (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L).toVector
    val w2 = stepOnce(stepOnce(w0))
    var (tp, fp, fn, tn) = (0L, 0L, 0L, 0L)
    rows.foreach { case (_, text, src) =>
      val pos = toks(text).map(t => w2(bucketOf(t))).sum > 0L
      val y = src == "src0"
      if (y && pos) tp += 1 else if (!y && pos) fp += 1
      else if (y && !pos) fn += 1 else tn += 1
    }
    val want = (tp, fp, fn, tn,
      if (tp + fp == 0) 0L else 1000000L * tp / (tp + fp),
      if (tp + fn == 0) 0L else 1000000L * tp / (tp + fn),
      if (2 * tp + fp + fn == 0) 0L else 2000000L * tp / (2 * tp + fp + fn),
      1000000L * (tp + tn) / n)
    val got = SparkEntry.queries("q_classifier_eval")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq(want), "classifier eval drifted from the hand confusion matrix")
    // the matrix partitions the corpus, and the trained gate actually
    // separates at better-than-chance accuracy on this fixture
    assert(tp + fp + fn + tn == n)
    assert(want._8 > 500000L, s"trained gate is no better than chance: ${want._8}")
  }

  test("classifierEval accepts the bias-table layout (buckets + 1, intercept last)") {
    import spark.implicits._
    val df = Seq((1L, "aa bb", "src0"), (2L, "cc dd", "src1"),
      (3L, null.asInstanceOf[String], "src1")).toDF("doc_id", "text", "source")
    // all-zero feature weights + positive bias => every doc (incl. the
    // NULL-text one, which scores bias alone) predicts positive
    val w = Vector.fill(256)(0L) :+ 1000L
    val got = graft.operators.TextAnalysis.classifierEval(df, "text",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("source") === "src0", 1L).otherwise(0L), w)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) == ((1L, 2L, 0L, 0L)))
    assert(got.getLong(4) == 333333L, "precision 1/3 in micros")
    assert(got.getLong(5) == 1000000L, "recall 1")
    assert(got.getLong(6) == 500000L, "F1 = 2/(2+2) = 0.5")
    assert(got.getLong(7) == 333333L)
  }

  test("q_linear_apply_from_model == the inline train+apply chain, and the model is reused") {
    // exact-Long training round-trips parquet: scoring under the stored
    // weight table must equal the in-query chain bit-for-bit
    val inline = SparkEntry.queries("q_linear_train_apply")(spark, sf)
      .collect().map(_.toString).toSeq
    val fromModel = SparkEntry.queries("q_linear_apply_from_model")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromModel == inline, "stored-model scoring drifted from the inline chain")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val caches = tmp.listFiles().filter(_.getName.startsWith("graft_lrmodel_cache_"))
    assert(caches.nonEmpty, "no materialized classifier model found")
    val markers = caches.map(c => new java.io.File(c, "_SUCCESS")).filter(_.exists())
    assert(markers.nonEmpty, "materialized model has no _SUCCESS marker")
    val before = markers.map(m => m.getAbsolutePath -> m.lastModified()).toMap
    val again = SparkEntry.queries("q_linear_apply_from_model")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == inline)
    markers.foreach { m =>
      assert(m.lastModified() == before(m.getAbsolutePath),
        s"model ${m.getParent} was retrained on a cache hit")
    }
  }

  test("drift-gated classifier refresh: panel PSI gates both ways; the trigger column IS the panel readout") {
    val psiKey = "spark.graft.lr.refreshPsiMicro"
    val docs = Tables.t(spark, sf, "documents")
    val y = when(col("source") === "src0", 1L).otherwise(0L)
    val init = (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L)
    // the two model generations from first principles: frozen =
    // base-slice-trained, refreshed = current-corpus retrain
    val base = docs.filter(col("doc_id") % 4 =!= 3)
    val frozenW = TextAnalysis.logisticTrainN(base, "text", y, init,
      steps = 2, lrMicro = 1000000L, n = base.count())
    val retrainedW = TextAnalysis.logisticTrainN(docs, "text", y, init,
      steps = 2, lrMicro = 1000000L, n = docs.count())
    def sumsUnder(w: Seq[Long]): Map[String, Long] =
      TextAnalysis.linearMargins(docs, "doc_id", "text", w,
          keepCols = Seq("source"))
        .groupBy("source").agg(sum("score_micro").as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def served(): Map[String, Long] =
      SparkEntry.queries("q_classifier_refresh")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    try {
      spark.conf.set(psiKey, Long.MaxValue.toString)
      val frozen = served()
      assert(frozen.nonEmpty)
      frozen.foreach { case (src, s) =>
        assert(s == sumsUnder(frozenW)(src),
          s"un-tripped drift gate must serve the frozen base model ($src)")
      }
      spark.conf.unset(psiKey) // default -1: PSI >= 0 always trips
      served().foreach { case (src, s) =>
        assert(s == sumsUnder(retrainedW)(src),
          s"tripped drift gate must serve the retrained model ($src)")
      }
    } finally spark.conf.unset(psiKey)
    // monitoring -> action edge: the trigger column equals
    // q_drift_panel's quality terms summed per source, bit-for-bit
    val panel = SparkEntry.queries("q_drift_panel")(spark, sf)
      .filter(col("feature") === "quality")
      .groupBy("source").agg(sum("psi_term_micro").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q_classifier_refresh")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == panel,
      "q_classifier_refresh's psi_micro drifted from the q_drift_panel readout")
  }

  test("q_lr_serve_current == q_linear_train_apply: the pointer serves the retrained model; only the pointed version survives gc") {
    val viaPointer = SparkEntry.queries("q_lr_serve_current")(spark, sf)
      .collect().map(_.toString).toSeq
    val viaChain = SparkEntry.queries("q_linear_train_apply")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaPointer == viaChain,
      "pointer serve drifted from the inline train->apply chain")
    // resolve THIS sf's registry via the cache keying the query uses,
    // not a tmpdir glob (ADVICE r19: globs sweep in stale registries)
    val reg = new java.io.File(
      graft.queries.PipelineQueries.materializedLrRegistryDir(spark, sf))
    assert(reg.isDirectory, "no classifier registry dir found")
    val versions = reg.listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).sorted.toSeq
    assert(versions == Seq("v1"),
      s"registry ${reg.getName} should hold exactly the pointed v1: $versions")
  }

  test("held-out eval: valid-split matrix sizes to the valid split; weights differ from full-corpus training") {
    val docs = Tables.t(spark, sf, "documents")
    val got = SparkEntry.queries("q_classifier_eval_holdout")(spark, sf)
      .collect().head
    val (tp, fp, fn, tn) =
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
    // the matrix partitions exactly the VALID split, never the corpus —
    // membership recomputed through the same oracled md5 bucket
    val validN = graft.operators.Mixture.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .filter(org.apache.spark.sql.functions.col("split") === "valid").count()
    assert(tp + fp + fn + tn == validN,
      s"holdout matrix covers ${tp + fp + fn + tn} docs, valid split has $validN")
    assert(validN < docs.count(), "valid split must be a strict subset")
  }

  test("q_classifier_curve: tp+fn constant (the positives), tp/fp non-increasing in the threshold; thr=0 row == the holdout eval") {
    val rows = SparkEntry.queries("q_classifier_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(rows.length == 5)
    // raising the threshold only removes predicted positives
    rows.sliding(2).foreach {
      case Array((_, tp1, fp1, _, _), (_, tp2, fp2, _, _)) =>
        assert(tp2 <= tp1, "tp must be non-increasing in the threshold")
        assert(fp2 <= fp1, "fp must be non-increasing in the threshold")
      case _ =>
    }
    // row totals: tp+fn and fp+tn are threshold-independent partitions
    val posTotals = rows.map { case (_, tp, _, fn, _) => tp + fn }.distinct
    val negTotals = rows.map { case (_, _, fp, _, tn) => fp + tn }.distinct
    assert(posTotals.length == 1 && negTotals.length == 1)
    // the thr=0 row IS the held-out eval's matrix
    val at0 = rows.find(_._1 == 0L).get
    val ev = SparkEntry.queries("q_classifier_eval_holdout")(spark, sf)
      .collect().head
    assert((at0._2, at0._3, at0._4, at0._5) ==
      ((ev.getLong(0), ev.getLong(1), ev.getLong(2), ev.getLong(3))),
      "curve at the eval cut drifted from q_classifier_eval_holdout")
  }
}

object TextAnalysisSpec {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Mean logistic loss of `weightsMicro` on the labeled frame: the
    * training-progress metric the trainer specs check.
    */
  def logisticLoss(df: DataFrame, textCol: String, label: Column,
      weightsMicro: Seq[Long], buckets: Int = 256): Double = {
    val wArr = typedLit(weightsMicro)
    val bucketOf: Column => Column = t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    val m = aggregate(
      transform(filter(TextAnalysis.tokens(col(textCol)), t => t =!= ""),
        t => element_at(wArr, (bucketOf(t) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x).cast("double") / lit(1e6)
    val y = label.cast("double")
    // -[y ln p + (1-y) ln(1-p)] in the stable log1p(exp(..)) form
    df.select(avg(
        when(y === 1.0, log1p(exp(-m))).otherwise(log1p(exp(m)))).as("l"))
      .collect()(0).getDouble(0)
  }
}
