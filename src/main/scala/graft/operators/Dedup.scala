package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._

/** Deduplication operators for large-scale document corpora — north-star
  * surface (no trace in the reference, whose algebra stops at
  * scan/filter/project/sort/limit: /root/reference/src/planner/
  * logicalplan.rs:207-273).
  *
  * Scale design: every path is shuffle-based group/join — no driver
  * materialization. Exact dedup shuffles digests, not documents. Near-dedup
  * is MinHash-LSH: candidates come from equi-joins on band hashes (shuffle
  * on small keys), token sets are re-joined by id only for the final
  * verification of the (few) candidate pairs, never carried through the
  * banding explosion.
  */
object Dedup {

  /** Whitespace tokens, lowercased — the default shingling for word-level
    * Jaccard. Callers with other needs pass their own tokens column.
    */
  def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** 64-bit-hash the token array: set operations on longs are several
    * times cheaper than on UTF8 strings, and with xxhash64 the collision
    * probability at realistic shingle cardinalities (<1e6 distinct) is
    * ~1e-8 — far below the scale of any threshold decision.
    */
  private def hashedToks(c: Column): Column =
    sort_array(array_distinct(transform(c, t => xxhash64(t))))

  /** Byte-level hashed char-k shingles — same hash set as
    * `hashedToks(<substring shingles>)` on ASCII text, with zero string
    * allocation (one rolling-hash pass per document). The scale path for
    * shingling-heavy dedup.
    */
  def shinglesHashed(text: Column, k: Int = 5): Column =
    graft.functions.hashed_shingles(text, k)

  /** Set Jaccard over two token arrays (distinct semantics). Pure integer
    * size arithmetic -> the division is bit-identical across engines.
    */
  def jaccard(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb))
    val uni   = size(array_union(ta, tb))
    when(uni === 0, lit(1.0)).otherwise(inter.cast("double") / uni)
  }

  /** Directed shingle CONTAINMENT pairs — the asymmetric near-dup
    * relation Jaccard misses: C(A→B) = |A∩B| / |A| flags a short document
    * (quote, boilerplate block, excerpt) embedded in a long one even when
    * their symmetric overlap is tiny (Broder '97 §2 defines both; most
    * LSH pipelines only chase the symmetric one).
    *
    * Shape: an inverted-index self-join sharded by shingle — never
    * all-pairs. The df-cap is the hot-list guard AND part of the
    * contract: shingles appearing in more than `maxDf` documents
    * (stop-grams — boilerplate vocabulary carrying no identity signal)
    * are dropped from the universe BEFORE sizes and intersections, so
    * per-shingle join fan-out is ≤ maxDf² by construction and the result
    * is an exact, engine-portable function of (corpus, k, maxDf,
    * threshold). Containment is emitted in exact integer mills
    * (`inter·1000 div |A|`) — no float division anywhere.
    *
    * At 100 TB: postings shuffle once on the shingle hash, the pair
    * aggregation shuffles candidates only (df-capped), and both
    * aggregations partial-combine map-side. A document whose every
    * shingle is a stop-gram leaves the universe (no row out) — the same
    * convention as the oracle.
    */
  def containmentPairs(docs: DataFrame, idCol: String, shingles: Column,
      thresholdMilli: Int, maxDf: Long): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"thresholdMilli must be in 1..1000, got $thresholdMilli")
    // NOT persisted: the gram table feeds four consumers, but Spark's
    // exchange reuse already shares the physical passes, and a measured
    // persist variant ran 1.6× SLOWER (cache materialization cost more
    // than the reused exchanges it replaced — r20 probe evidence).
    val sh = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(shingles).as("g"))
    val rare = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val kept = sh.join(rare, "g")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = kept.select(col("g"), col("doc_id").as("id_a"))
    val b = kept.select(col("g"), col("doc_id").as("id_b"))
    a.join(b, "g").filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
      .filter(col("inter") * 1000 >= lit(thresholdMilli.toLong) * col("n"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 1000) div n").as("cont_milli"))
  }

  /** Exact dedup by content digest: one row per distinct content with the
    * smallest id kept ("first wins") and the copy count. Shuffles 32-byte
    * digests + ids only — at 100 TB the documents themselves never move.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    // cast-to-string first: one digest arithmetic across the whole dedup
    // family (exact / incremental / the streaming monitor's arrivals),
    // so non-string content hashes identically everywhere. No-op for
    // string columns.
    df.groupBy(sha2(col(contentCol).cast("string"), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Incremental exact dedup — the ingestion shape: new-batch rows whose
    * digest is not already in the corpus, within-batch ties kept at min id.
    * The corpus reduces to distinct digests before the anti-join, so cost
    * is O(new + corpus digests) and the corpus documents never move —
    * re-running full-corpus dedup per ingest would be the scale mistake.
    */
  def exactIncremental(newDf: DataFrame, corpus: DataFrame,
      contentCol: String, idCol: String): DataFrame =
    exactIncrementalDigests(newDf,
      corpus.select(
        sha2(col(contentCol).cast("string"), 256).as("content_hash")),
      "content_hash", contentCol, idCol)

  /** [[exactIncremental]] against an already-DIGESTED corpus — the
    * compaction handoff from the streaming dedup monitor
    * ([[graft.streaming.StreamingDedup]]): its drained state table holds
    * sha2-256 digests, never document content, and those digests ARE the
    * seen-corpus here. The keep decisions continue bit-for-bit (same
    * digest arithmetic, same anti-join, same within-batch min-id tie
    * break), so "run the monitor, periodically compact its state to a
    * static digest table, dedup further ingests in batch" is one
    * contract end-to-end — spec-pinned in StreamingDedupSpec.
    */
  def exactIncrementalDigests(newDf: DataFrame, corpusDigests: DataFrame,
      digestCol: String, contentCol: String, idCol: String): DataFrame = {
    // Digest arithmetic must be bit-identical to the monitor's
    // (StreamingDedup.arrivals digests sha2(cast(content AS string))):
    // the cast makes non-string content hash the same on both sides, and
    // the NULL-SAFE anti-join condition makes a NULL digest (NULL
    // content, one group under SQL GROUP BY semantics, emitted as NULL
    // by the monitor's sentinel restore) actually MATCH a NULL corpus
    // row — plain equality would never match NULL and re-admit a
    // NULL-content doc the corpus already recorded.
    val newDig = newDf.select(col(idCol).as("new_id"),
      sha2(col(contentCol).cast("string"), 256).as("content_hash"))
    val seen = corpusDigests.select(col(digestCol).as("seen_hash")).distinct()
    newDig.join(seen, newDig("content_hash") <=> seen("seen_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col("new_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
  }

  /** Incremental near-dedup: new-batch ids that near-duplicate (Jaccard >=
    * threshold) some corpus document. LSH banding on both sides, but
    * candidates are only new x corpus bucket matches — corpus x corpus
    * pairs are never generated, which is what makes per-batch ingestion
    * dedup affordable against a 100 TB corpus.
    */
  def minHashIncremental(newDf: DataFrame, corpus: DataFrame, idCol: String,
      toksCol: Column, threshold: Double, k: Int = 126, bands: Int = 21,
      maxBucket: Long = Long.MaxValue): DataFrame =
    minHashIncrementalCore(newDf, corpus, idCol, toksCol, hashedToks(toksCol),
      threshold, k, bands, maxBucket)

  /** [[minHashIncremental]] over pre-hashed shingles ([[shinglesHashed]]). */
  def minHashIncrementalHashed(newDf: DataFrame, corpus: DataFrame, idCol: String,
      hashedCol: Column, threshold: Double, k: Int = 126, bands: Int = 21,
      maxBucket: Long = Long.MaxValue): DataFrame =
    minHashIncrementalCore(newDf, corpus, idCol, hashedCol, hashedCol,
      threshold, k, bands, maxBucket)

  /** The STORABLE banded-signature table of a corpus — (id, band, bh),
    * the LSH bucket keys [[minHashPairsHashed]] joins on. `bands` longs
    * per document (vs the document text), so a production pipeline
    * materializes it beside the cluster table, and a nightly append
    * never re-hashes the corpus: candidate generation is the
    * increment's bands joined against this STORE
    * ([[minHashIncrementalFromBands]]).
    */
  def bandedSignatures(df: DataFrame, idCol: String, hashedCol: Column,
      k: Int = 126, bands: Int = 21): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    df.select(col(idCol).as("id"), minhash_sig(hashedCol, k).as("sig"))
      .select(col("id"), posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> xxhash64(slice(sig, b * $r + 1, $r), b))"))
        .as(Seq("band", "bh")))
  }

  /** [[minHashIncrementalHashed]] with the corpus side's banded
    * signatures read from a STORE ([[bandedSignatures]] materialized at
    * base-build time) — the true production append shape: the corpus is
    * never re-hashed; its only appearance is a semi-join read of the
    * CANDIDATE old docs for exact verification (ids first, shingles
    * computed only for the rows that survive the semi-join). Cost is
    * therefore ∝ the increment + its candidates, never the corpus —
    * the IncrSoak table in BASELINE.md prices exactly this split.
    * Returns the same (new_id, old_id, jac) rows as the recompute path
    * (DedupSpec pins equality).
    */
  def minHashIncrementalFromBands(newDf: DataFrame, corpus: DataFrame,
      idCol: String, hashedCol: Column, storedBands: DataFrame,
      threshold: Double, k: Int = 126, bands: Int = 21,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val oldAll = storedBands
      .select(col("id").as("old_id"), col("band"), col("bh").as("new_bh"))
    // same hot-bucket guard as the recompute path, applied to the store
    val oldB =
      if (maxBucket == Long.MaxValue) oldAll
      else {
        val hot = oldAll.groupBy("band", "new_bh")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxBucket)
          .select("band", "new_bh")
        oldAll.join(broadcast(hot), Seq("band", "new_bh"), "left_anti")
      }
    val cand = bandedSignatures(newDf, idCol, hashedCol, k, bands)
      .select(col("id").as("new_id"), col("band"), col("bh").as("new_bh"))
      .join(oldB, Seq("band", "new_bh"))
      .select("new_id", "old_id").distinct()
    // verification reads ONLY candidate old docs: semi-join by id before
    // the shingle projection, so the corpus scan prunes to the candidate
    // set instead of re-shingling every stored document
    val candOlds = corpus.join(
      cand.select(col("old_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val newToks = newDf.select(col(idCol).as("new_id"), hashedCol.as("toks_a"))
    val oldToks = candOlds.select(col(idCol).as("old_id"), hashedCol.as("toks_b"))
    cand.join(newToks, "new_id").join(oldToks, "old_id")
      .withColumn("jac", bounded_jaccard(col("toks_a"), col("toks_b"), threshold))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("old_id"), col("jac"))
  }

  private def minHashIncrementalCore(newDf: DataFrame, corpus: DataFrame,
      idCol: String, sigInput: Column, verifToks: Column, threshold: Double,
      k: Int, bands: Int, maxBucket: Long): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val r = k / bands
    def banded(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), minhash_sig(sigInput, k).as("sig"))
        .select(col(s"${side}_id"), posexplode(
          expr(s"transform(sequence(0, ${bands - 1}), " +
            s"b -> xxhash64(slice(sig, b * $r + 1, $r), b))"))
          .as(Seq("band", s"${side}_bh")))
    val oldAll = banded(corpus, "old").withColumnRenamed("old_bh", "new_bh")
    // Same hot-bucket guard as [[minHashCore]], applied to the CORPUS
    // side (the big one): a boilerplate bucket of B corpus docs matches
    // every same-boilerplate new doc B times in one join key — cap it.
    val oldB =
      if (maxBucket == Long.MaxValue) oldAll
      else {
        val hot = oldAll.groupBy("band", "new_bh")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxBucket)
          .select("band", "new_bh")
        oldAll.join(broadcast(hot), Seq("band", "new_bh"), "left_anti")
      }
    val cand = banded(newDf, "new")
      .join(oldB, Seq("band", "new_bh"))
      .select("new_id", "old_id").distinct()
    val newToks = newDf.select(col(idCol).as("new_id"), verifToks.as("toks_a"))
    val oldToks = corpus.select(col(idCol).as("old_id"), verifToks.as("toks_b"))
    cand.join(newToks, "new_id").join(oldToks, "old_id")
      .withColumn("jac", bounded_jaccard(col("toks_a"), col("toks_b"), threshold))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("old_id"), col("jac"))
  }

  /** All-pairs exact Jaccard >= threshold. O(n^2) verification baseline for
    * the LSH path — correct at any size but only *runnable* at modest n;
    * use [[minHashPairs]] beyond that.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, toksCol: Column,
      threshold: Double): DataFrame =
    exactJaccardCore(df, idCol, hashedToks(toksCol), threshold)

  /** [[exactJaccardPairs]] over pre-hashed shingles ([[shinglesHashed]]). */
  def exactJaccardPairsHashed(df: DataFrame, idCol: String, hashedCol: Column,
      threshold: Double): DataFrame =
    exactJaccardCore(df, idCol, hashedCol, threshold)

  private def exactJaccardCore(df: DataFrame, idCol: String, hashed: Column,
      threshold: Double): DataFrame = {
    // The id_a < id_b condition makes this a broadcast nested-loop join;
    // without an explicit repartition the streamed side of a small input
    // is a single partition and the O(n^2) verification runs serially.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(col(idCol).as("id_a"), hashed.as("toks_a")).repartition(par)
    val b = df.select(col(idCol).as("id_b"), hashed.as("toks_b"))
    // Exact-safe pruning around ONE bounded merge per pair:
    //  1. size ratio (O(1)): |A∩B| <= min(|A|,|B|) and |A∪B| >= max, so
    //     jac <= min/max — rejects before any array access;
    //  2. bounded_jaccard: a single fused two-pointer merge with PPJoin's
    //     positional early-exit — the composed sorted_intersect_size +
    //     size-arithmetic form evaluates the merge more than once per pair
    //     (no CSE across the BNL join's filter), which dominated this
    //     operator's cost. Completed merges divide exactly as before, so
    //     results are unchanged.
    val na = size(col("toks_a")).cast("double")
    val nb = size(col("toks_b")).cast("double")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .filter(least(na, nb) >= lit(threshold) * greatest(na, nb))
      .withColumn("jac", bounded_jaccard(col("toks_a"), col("toks_b"), threshold))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Near-duplicate pairs via MinHash-LSH banding + exact verification.
    *
    * k minhash slots split into `bands` bands of r = k/bands rows; two
    * documents land in the same bucket for band i iff their signatures
    * agree on all r slots, so P(candidate) = 1-(1-j^r)^bands — with the
    * default k=126, bands=21 (r=6), a pair at j=0.9 is missed with
    * probability (1-0.9^6)^21 ~ 1e-7 while a background pair at j=0.2
    * becomes a candidate with probability ~1.3e-3: the LSH+verify output
    * equals the exact all-pairs answer with overwhelming probability, at
    * shuffle cost O(n*bands) + near-linear verification instead of O(n^2).
    * r trades candidate volume against the miss floor — lower r for loose
    * thresholds, higher r for tight ones.
    *
    * Hot buckets (boilerplate shingles) are the skew risk at scale: AQE
    * skew-join handles moderate cases; pathological corpora should raise
    * `bands`' r or pre-filter stop-shingles.
    */
  def minHashPairs(df: DataFrame, idCol: String, toksCol: Column,
      threshold: Double, k: Int = 126, bands: Int = 21,
      maxBucket: Long = Long.MaxValue): DataFrame =
    minHashCore(df, idCol, toksCol, hashedToks(toksCol), threshold, k, bands,
      maxBucket)

  /** [[minHashPairs]] over pre-hashed sorted-distinct shingles (see
    * [[shinglesHashed]]): the signature reads the longs directly and the
    * verification arrays need no re-hash/sort — one shingling pass per
    * scan instead of a string-materializing chain.
    */
  def minHashPairsHashed(df: DataFrame, idCol: String, hashedCol: Column,
      threshold: Double, k: Int = 126, bands: Int = 21,
      maxBucket: Long = Long.MaxValue): DataFrame =
    minHashCore(df, idCol, hashedCol, hashedCol, threshold, k, bands, maxBucket)

  private def minHashCore(df: DataFrame, idCol: String, sigInput: Column,
      verifToks: Column, threshold: Double, k: Int, bands: Int,
      maxBucket: Long): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val r = k / bands
    val base = df.select(col(idCol).as("id"), sigInput.as("toks"))
    val sig = base.select(col("id"), minhash_sig(col("toks"), k).as("sig"))
    val verif = df.select(col(idCol).as("id"), verifToks.as("toks"))
    // band hash = xxhash64 over the band's slice of the signature, salted
    // with the band index so bands hash independently.
    val allBanded = sig.select(col("id"), posexplode(
      expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> xxhash64(slice(sig, b * $r + 1, $r), b))"))
      .as(Seq("band", "bh")))
    // Hot-bucket guard (off by default — unlimited keeps exact LSH
    // recall, which the oracle checks): a band bucket of B docs is a
    // SINGLE join key with B² candidate fan-out in ONE task — 1000 docs
    // of shared boilerplate = 10⁶-row products per band on one reducer
    // (measured on the round-11 adversarial-skew soak). Buckets past
    // maxBucket are dropped via one partial-aggregable bucket count +
    // broadcastable anti-join; recall loss is exactly the pairs whose
    // EVERY shared band overflowed — in practice boilerplate/exact-dup
    // text that an exact-dedup pre-pass ([[exact]]) should have removed.
    val banded =
      if (maxBucket == Long.MaxValue) allBanded
      else {
        val hot = allBanded.groupBy("band", "bh")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxBucket)
          .select("band", "bh")
        allBanded.join(broadcast(hot), Seq("band", "bh"), "left_anti")
      }
    val cand = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(verif.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(verif.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jac", bounded_jaccard(col("toks_a"), col("toks_b"), threshold))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Near-duplicate pairs via 64-bit SimHash + chunk banding.
    *
    * The signature is split into `chunks` equal bit-chunks; by pigeonhole,
    * any pair within Hamming distance < chunks shares at least one exact
    * chunk, so equi-joining on (chunk index, chunk bits) finds all such
    * pairs; candidates are then verified with the exact popcount. Default 8
    * chunks of 8 bits guarantees recall for maxHamming <= 7.
    */
  def simHashPairs(df: DataFrame, idCol: String, toksCol: Column,
      maxHamming: Int = 7, chunks: Int = 8, seed: Long = 42L): DataFrame = {
    require(64 % chunks == 0, s"chunks=$chunks must divide 64")
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = df.select(col(idCol).as("id"), simhash64(toksCol, seed).as("sig"))
    val banded = base.select(col("id"), col("sig"), posexplode(
      expr(s"transform(sequence(0, ${chunks - 1}), " +
        s"c -> shiftright(sig, c * $width) & ${mask}L)"))
      .as(Seq("chunk", "bits")))
    // Same shape discipline as Multimodal.phashNearDup: the probe side is
    // explicitly hash-repartitioned (a compact store's scan is one split,
    // and the band join's candidate fan-out is the dominant work — AQE
    // coalesces count-less column repartitions of byte-light rows back to
    // one partition), and the order + Hamming predicates ride the JOIN so
    // the distinct's exchange carries only surviving near-dup pairs,
    // three narrow columns wide, instead of every band collision with
    // both signatures aboard. hamming is a pure function of the two
    // per-id signatures, so distinct-on-(ids, hamming) after the filter
    // keeps exactly one row per qualifying pair — identical output.
    val a = banded
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("chunk"), col("bits"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("chunk").as("chunk_b"), col("bits").as("bits_b"))
    a.join(b, col("chunk") === col("chunk_b") && col("bits") === col("bits_b") &&
        col("id_a") < col("id_b") &&
        hamming64(col("sig_a"), col("sig_b")) <= maxHamming)
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      // Materialization boundary BEFORE the distinct (r21, ADVICE r20):
      // survivors are three narrow longs — tiny at every scale — but if
      // the band join broadcasts, the distinct's clustering is already
      // satisfied by the probe-side hash(id) partitioning and fuses into
      // the join stage, so a downstream ORDER BY's range-sampling pass
      // re-executes the whole quadratic candidate join (the exact 2x
      // re-execution phashNearDup measured at 10x data and fixed the
      // same way, Multimodal.scala).
      .repartition(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Scale path for cosine near-dup: L independent sign-LSH tables
    * (AND within a table's nPlanes bits, OR across tables — the classic
    * LSH amplification), exact verification of candidates. Shuffle cost
    * O(n * nTables) instead of O(n^2). Per-table collision for a pair at
    * angle theta is (1 - theta/pi)^nPlanes, so overall recall is
    * 1 - (1 - p^nPlanes)^nTables: ~1 for true near-dups (cos >= 0.9),
    * deliberately lossy for weakly-similar pairs.
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 6, nTables: Int = 16,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    // one fused expression for all tables' buckets (identical ids to the
    // composed per-plane dot-product form, ~100x less generated code)
    val tables = graft.functions.sign_lsh_buckets(
      col(vecCol), nPlanes, nTables, dim, seed)
    // ids + bucket keys only: carrying the vector through the x nTables
    // explode and self-join would multiply the shuffle payload by the
    // vector width for no reason (vectors are re-joined for verification)
    val banded = df.select(col(idCol).as("id"),
      posexplode(tables).as(Seq("tbl", "bucket")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .filter(cosine_sim(col("vec_a"), col("vec_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Near-duplicate pairs by embedding cosine similarity — brute-force
    * verification form (all pairs). The scale path is [[cosinePairsLsh]].
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")).repartition(par)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv
    * 2303.09540): partition the embedding space by nearest centroid, find
    * cosine-similar pairs only WITHIN each cell, and keep one
    * representative per similar set (here: drop any id that is the larger
    * side of a >= tau pair — a deterministic single sweep, no transitive
    * closure; feed the pairs to [[resolveClusters]] when cluster-exact
    * semantics are needed).
    *
    * Returns survivors as (id, cluster). Scale shape: assignment is a
    * broadcast cross-join against the (small) centroid table with a
    * partial min_by aggregate — n x k expansion collapses map-side before
    * the one id-keyed shuffle; the quadratic pair search is confined to
    * single cells (SemDeDup's core trick — choose k so cells are ~n/k),
    * shuffled by cell id. No global all-pairs join anywhere.
    *
    * Hot-cell guard: a degenerate centroid set (or naturally clumped
    * embeddings) can put ~n rows in ONE cell, making the within-cell pair
    * join O(n²) regardless of k. Any cell larger than `maxCellSize` is
    * split into ceil(size/maxCellSize) sub-cells by a deterministic hash
    * of the id, and the pair search runs within sub-cells only — per-task
    * work is bounded by maxCellSize² everywhere. Cross-sub-cell pairs in
    * an oversized cell go uncompared: a recall approximation that only
    * engages past the cap (SemDeDup is itself an approximation of
    * all-pairs; the cap trades a bounded slice of recall for a hard
    * worst-case bound). Cells at or under the cap keep exactly one
    * sub-cell, so results are unchanged wherever the guard is idle.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      tau: Double, maxCellSize: Int = 4096): DataFrame = {
    require(maxCellSize > 0, "maxCellSize must be positive")
    val e = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val c = centroids.select(col(cidCol).as("cid"), col(cvecCol).as("cvec"))
    // nearest centroid, ties broken by centroid id (struct order) — the
    // same (dist, cid) lexicographic argmin the oracle's row_number uses
    val assigned = e.crossJoin(broadcast(c))
      .withColumn("dist", euclidean_dist(col("vec"), col("cvec")))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster"))
    val withCluster = e.join(assigned, "id")
    // Cell sizes: one count-only aggregate, ≤ k rows — broadcast back.
    val cellSizes = withCluster.groupBy("cluster")
      .agg(count(lit(1)).as("cell_n"))
    val salted = withCluster.join(broadcast(cellSizes), "cluster")
      .withColumn("subcells",
        greatest(lit(1L), ceil(col("cell_n").cast("double") / maxCellSize).cast("long")))
      .withColumn("subcell", pmod(xxhash64(col("id")), col("subcells")))
    val x = salted.select(col("id").as("id_a"), col("cluster"), col("subcell"),
      col("vec").as("vec_a"))
    val y = salted.select(col("id").as("id_b"), col("cluster"), col("subcell"),
      col("vec").as("vec_b"))
    val dropped = x.join(y, Seq("cluster", "subcell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine_sim(col("vec_a"), col("vec_b")) >= tau)
      .select(col("id_b").as("id"))
      .distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** Resolve near-duplicate PAIRS into clusters: connected components by
    * min-label propagation, returning (v, cluster_rep) for every id that
    * appears in a pair, with cluster_rep = the smallest id in the
    * component. This is the missing last step of a near-dedup pipeline —
    * pairs alone over-delete (dropping the right side of every pair can
    * remove a whole chain including its best representative).
    *
    * Scale shape: hash-to-min label propagation — each round is ONE keyed
    * shuffle of (id, label) longs, converging in O(component diameter)
    * rounds; near-dup clusters are dense (copies of a shared template),
    * so the diameter is small. The driver sees only a scalar label-sum
    * per round (the standard iterative-fixpoint shape for CC on Spark).
    * Each round ends in `localCheckpoint`, which TRUNCATES the lineage —
    * without it the logical plan doubles per round (labels appears in
    * both the union and the join) and plan stringification alone goes
    * exponential; checkpoint blocks are executor-local and reclaimed by
    * GC. Throws if `maxIter` rounds don't reach the fixpoint rather than
    * returning partially-merged clusters. NOTE: `maxIter` bounds only
    * the DISTRIBUTED regime — a small integral-id graph (≤ 2^18 pairs,
    * the measured-size gate below) is solved exactly by one driver
    * union-find pass, which always terminates and therefore never
    * consults `maxIter`; callers relying on the refuse-unconverged
    * guard get it exactly where non-convergence is possible (ADVICE
    * r19).
    */
  def resolveClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // The sum-based fixpoint detector (and the smallest-id representative
    // choice) is exact only for numeric ids: a non-numeric label cast to
    // decimal yields NULL, the per-round sums never compare equal, and the
    // loop would run to maxIter and throw even after converging. Fail
    // fast with the remedy instead.
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"resolveClusters requires numeric id columns; '$c' is ${dt.simpleString}. " +
          "Hash non-numeric ids to longs first (e.g. xxhash64(id)) and join back after.")
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // materialize the (possibly expensive — e.g. LSH) pair source ONCE:
    // the two union branches below would otherwise each recompute it
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).persist(lvl)
    val nPairs = p.count()
    if (nPairs == 0) {
      // no near-duplicates: nothing to cluster (the sum-based fixpoint
      // detector can't see an empty frame converge — NULL sums compare
      // unequal forever); return a standalone empty frame so p can be
      // released deterministically
      p.unpersist(blocking = false)
      val sess = pairs.sparkSession
      val dt = p.schema("src").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", dt),
        org.apache.spark.sql.types.StructField("cluster_rep", dt)))
      return sess.createDataFrame(
        sess.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // Size the algorithm to the MEASURED graph, not the session default.
    // The incremental-append path hands this loop a graph ∝ the night's
    // increment — thousands of edges, not the corpus — and each fixpoint
    // round is a full Spark job whose cost at that size is pure driver
    // round-trips. Gate on the already-paid p.count(): a ≤ 2^18
    // integral-id pair set (≤ ~4 MB) solves in the DRIVER — one bounded
    // collect + union-find, replacing ~(diameter+2) jobs with one (the
    // sf1 IncrProbe: update 1.40 s → 0.65 s). The bound is enforced and
    // stated here; larger graphs and non-integral ids fall through to
    // the distributed O(diameter) loop unchanged (a mid-size
    // single-partition variant was tried and REGRESSES ~2× at ~10^6
    // edges — one task per round loses more parallelism than it saves
    // in scheduling).
    val dt0 = p.schema("src").dataType
    val integral = dt0 match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (nPairs <= (1L << 18) && integral) {
      val rows = p.collect() // bounded: ≤ 2^18 id pairs, gated above
      p.unpersist(blocking = false)
      // union-find, min root wins — linking the larger root under the
      // smaller keeps every root == the component's smallest id, which
      // is exactly the distributed loop's min-label fixpoint
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      rows.foreach { r =>
        val a = r.getAs[Number](0).longValue()
        val b = r.getAs[Number](1).longValue()
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(v => out += ((v, find(v))))
      val sess = pairs.sparkSession
      import sess.implicits._
      return out.toSeq.toDF("v", "cluster_rep")
        .select(col("v").cast(dt0).as("v"),
          col("cluster_rep").cast(dt0).as("cluster_rep"))
    }
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(lvl)
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    // fixpoint detector: the vertex set is constant and labels only ever
    // decrease, so an unchanged label SUM means no label changed — one
    // aggregate per round instead of a join; decimal(38) keeps it exact
    // at any id magnitude. The lazy checkpoint is materialized by the
    // same sum action (one Spark action per round).
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIter) {
      val prop = edges.join(labels, col("dst") === col("v"))
        .select(col("src").as("v"), col("label"))
      val next = labels.union(prop)
        .groupBy("v").agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val sumNew = next
        .agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0)
      labels = next
      converged = prevSum != null && sumNew.compareTo(prevSum) == 0
      prevSum = sumNew
      i += 1
    }
    edges.unpersist(blocking = false)
    p.unpersist(blocking = false)
    require(converged,
      s"cluster resolution did not converge in $maxIter rounds (pathological chain?)")
    // checkpointed => shallow plan; evaluating the result re-reads the
    // executor-local checkpoint blocks, never the iteration chain
    labels.select(col("v"), col("label").as("cluster_rep"))
  }

  /** Incrementally maintain a near-dup cluster table under an APPEND —
    * the lifecycle step a 100 TB nightly ingest needs, where the stored
    * table from [[resolveClusters]] cannot be rebuilt with a global
    * connected-components run per batch.
    *
    * `existing` = (v, cluster_rep) as produced by [[resolveClusters]]
    * over the old corpus; `newPairs` = verified near-dup pairs involving
    * at least one appended doc (new × corpus from
    * [[minHashIncrementalHashed]], plus new × new from [[minHashPairsHashed]]
    * over the increment alone — LSH candidates are never corpus × corpus).
    *
    * Only components TOUCHED by a new edge are re-resolved: each stored
    * cluster's connectivity is summarized EXACTLY by its star edges
    * (member → representative), so connected components over
    * (touched clusters' stars ∪ newPairs) equals the full recompute on
    * the touched subgraph, and every other row of `existing` passes
    * through by an anti-join on its representative. Labels stay the
    * component-min id, so the output is row-identical to
    * `resolveClusters(oldPairs ∪ newPairs)` (spec-pinned in DedupSpec).
    *
    * Scale shape: the touched-rep set is one equi-join + distinct on the
    * (small) new-edge endpoint set; the CC iteration runs over
    * |touched members| + |newPairs| edges — cost ∝ the increment and the
    * clusters it touches, never the corpus. The untouched corpus moves
    * through one hash anti-join on `cluster_rep` (id pairs only,
    * documents never move).
    */
  def updateClusters(existing: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // The verified pair set feeds THREE consumers — the CC edge set, the
    // touched-endpoint set, and (through touchedReps) the untouched
    // anti-join — and upstream it is typically an LSH candidate-verify
    // chain: left lazy, that chain re-runs once per consumer (measured
    // 3× at the sf1 soak). One eager localCheckpoint materializes the
    // small id-pair table; every consumer reads executor-local blocks
    // (freed with the reference, no unpersist bookkeeping).
    val p = newPairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true)
    val endpoints = p.select(col("src").as("v"))
      .union(p.select(col("dst").as("v"))).distinct()
    // representatives of every stored cluster containing a new-edge
    // endpoint (endpoints with no stored row — appended docs, or old
    // docs never before paired — enter the CC via the new edges alone)
    val repOf = existing.join(endpoints, Seq("v"))
      .select(col("v"), col("cluster_rep"))
      .localCheckpoint(true) // ≤ |endpoints| rows, read by 3 consumers
    val touchedReps = repOf.select(col("cluster_rep")).distinct()
    // CONTRACT each stored cluster to its representative BEFORE the CC:
    // connectivity inside a stored cluster is total, so mapping every
    // new-edge endpoint through (v → rep) preserves the merged graph's
    // components exactly, and cluster_rep = the cluster's min id keeps
    // the min-label invariant (min over contracted node ids == min over
    // all member ids). The CC then runs over ≤ |newPairs| edges on
    // reps + unseen ids ONLY — no star edges, so the iteration cost is
    // ∝ the increment, never the touched clusters' member counts, and
    // the contracted diameter (old chains collapse to single nodes)
    // cuts the fixpoint round count — the term that dominated the sf1
    // IncrSoak. Row-identical to resolveClusters(star ∪ new) — the
    // star-replay this replaces — and to the full recompute (DedupSpec).
    val contracted = p
      .join(repOf.select(col("v").as("src"), col("cluster_rep").as("src_rep")),
        Seq("src"), "left")
      .join(repOf.select(col("v").as("dst"), col("cluster_rep").as("dst_rep")),
        Seq("dst"), "left")
      .select(coalesce(col("src_rep"), col("src")).as("src"),
        coalesce(col("dst_rep"), col("dst")).as("dst"))
    // self-loops (a pair inside one stored cluster) stay: they keep the
    // touched rep in the relabel table so expansion below finds it
    val relabeled = resolveClusters(contracted, "src", "dst")
    // EXPAND: touched members take their old rep's new label (one join —
    // the old per-round star traffic becomes a single id-table hop);
    // contracted nodes with no stored row enter directly
    val expandedOld = existing.join(touchedReps, Seq("cluster_rep"))
      .join(relabeled
          .select(col("v").as("cluster_rep"), col("cluster_rep").as("new_rep")),
        Seq("cluster_rep"), "left")
      .select(col("v"), coalesce(col("new_rep"), col("cluster_rep")).as("cluster_rep"))
    val expandedNew = relabeled
      .join(existing.select(col("v")), Seq("v"), "left_anti")
      .select(col("v"), col("cluster_rep"))
    existing.join(touchedReps, Seq("cluster_rep"), "left_anti")
      .select(col("v"), col("cluster_rep"))
      .union(expandedOld)
      .union(expandedNew)
  }

  /** Corpus with near-duplicate clusters collapsed to one representative:
    * every doc whose cluster representative is a DIFFERENT doc is dropped
    * via an id-only anti-join — documents never move.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val nonReps = resolveClusters(pairs, aCol, bCol)
      .filter(col("v") =!= col("cluster_rep"))
      .select(col("v").as(idCol))
    docs.join(nonReps, Seq(idCol), "left_anti")
  }

  /** Like [[dropNearDuplicates]], but each cluster keeps its BEST doc by
    * `quality` (ties broken by smallest id) instead of the smallest id —
    * what a curation pipeline actually wants (the near-dup group usually
    * contains one clean original and N degraded copies).
    *
    * Shape: clusters come from [[resolveClusters]] (ids only); the best
    * member per cluster is one `max_by` aggregate over (id, quality)
    * pairs — the documents themselves never shuffle; the final keep-set
    * anti-joins by id.
    *
    * Ids must be numeric (the `-id` smallest-id tie-break, like the
    * cluster representative itself, is numeric negation) — enforced by
    * [[resolveClusters]] up front.
    */
  def dropNearDuplicatesKeepBest(docs: DataFrame, pairs: DataFrame,
      idCol: String, quality: Column,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val clusters = resolveClusters(pairs, aCol, bCol)
    val scored = clusters.join(
      docs.select(col(idCol).as("v"), quality.as("__q")), Seq("v"))
    val best = scored.groupBy("cluster_rep")
      .agg(max_by(col("v"), struct(col("__q"), -col("v"))).as("__keep"))
      .select(col("__keep"))
    val drop = clusters.join(best, col("v") === col("__keep"), "left_anti")
      .select(col("v").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-document duplicated-token spans — the ExactSubstr shape from
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., ACL '22), at word-k-gram granularity: a token is *duplicated*
    * when some k-gram covering it also occurs in at least `minDocs`
    * distinct documents; maximal runs of duplicated tokens are reported
    * as (id, span_start, span_end, span_tokens), token positions
    * 0-based inclusive.
    *
    * Scale shape: documents explode to (id, pos, gramHash) — the shuffle
    * carries 8-byte rolling-poly hashes ([[Decontaminate.ngramHashes]]),
    * never text, and is keyed by the (uniform) hash. The ≥ minDocs test
    * is distinct-(hash, id) then a partial-aggregable count — no
    * count-distinct Expand. Hit positions come from one hash equi-join;
    * the island merge is a window partitioned BY DOCUMENT (never global).
    * Gram starts within k-1 of each other produce overlapping token
    * ranges, so islands break only at gaps ≥ k — the output is exactly
    * the union of the duplicated grams' token intervals.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 13, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The gram table feeds two consumers (the >= minDocs derivation and
    // the hit join); persist it so tokenize+hash runs once — at 100 TB
    // this intermediate is (id, pos, hash8) triples, ~2% of corpus bytes,
    // and spills to disk (the q_quality_filter pattern).
    val grams = docs.select(col(idCol).as("__id"),
      posexplode(Decontaminate.ngramHashes(col(textCol), k)).as(Seq("pos", "g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = grams.select("g", "__id").distinct()
      .groupBy("g").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("g")
    val hits = grams.join(dup, "g").select("__id", "pos")
    val w = Window.partitionBy("__id").orderBy("pos")
    val islands = hits
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) <= k - 1, lit(0)).otherwise(lit(1)))
      .withColumn("__isl", sum("__new").over(w))
    islands.groupBy(col("__id"), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The curation end of [[resolveClusters]]: pick each cluster's
    * CANONICAL member — highest quality, ties to the smallest id —
    * instead of blindly keeping the smallest id (min-id deletion can
    * throw away the best copy of a near-dup chain and keep a truncated
    * one). `clusters` = (idCol, clusterCol) as produced by
    * [[resolveClusters]]; `quality` = (qIdCol, qualityCol), one row per
    * id. Returns (clusterCol, canonical_id, quality).
    *
    * Scale shape: one equi-join on the id plus ONE partial-aggregable
    * max(struct(quality, −id)) per cluster — the arg-max never windows
    * or sorts; ids must be numeric (the [[resolveClusters]] contract).
    */
  def canonicalPerCluster(clusters: DataFrame, idCol: String,
      clusterCol: String, quality: DataFrame, qIdCol: String,
      qualityCol: String): DataFrame = {
    val j = clusters.select(col(idCol).as("__cid"), col(clusterCol))
      .join(quality.select(col(qIdCol).as("__qid"), col(qualityCol)),
        col("__cid") === col("__qid"))
    j.groupBy(col(clusterCol))
      .agg(max(struct(col(qualityCol).as("__q"),
        (-col("__cid")).as("__nid"))).as("w"))
      .select(col(clusterCol), (-col("w.__nid")).as("canonical_id"),
        col("w.__q").as("quality"))
  }

  /** The removal half of [[duplicateSpans]] — ExactSubstr dedup proper
    * (Lee et al., ACL '22): every duplicated k-gram has an OWNER (the
    * smallest doc id containing it); every token covered by a duplicated
    * gram owned by ANOTHER doc is cut, so the owner's copy of each
    * duplicated run survives corpus-wide and later copies don't. Documents are rebuilt from their surviving
    * tokens (in the tokenizer's canonical lowercase form); a fully-cut
    * document disappears. Returns (id, clean_text, n_toks).
    *
    * Scale shape: everything is keyed by gram hash or by document —
    * owner resolution is one partial-aggregable min per gram; losing
    * gram STARTS (never the k-wide position sets) merge into covered
    * intervals with the [[duplicateSpans]] per-document island window,
    * collapse to one small interval list per document, and tokens are
    * filtered by a per-row HOF against that list — no position-level
    * explode, no k× row blow-up; reassembly's collect_list is bounded
    * per document.
    */
  def cutDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 13, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shared by owner resolution and the losing-occurrence join — persist
    // so tokenize+hash runs once (see [[duplicateSpans]]).
    val grams = docs.select(col(idCol).as("__id"),
      posexplode(Decontaminate.ngramHashes(col(textCol), k)).as(Seq("pos", "g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val owners = grams.select("g", "__id").distinct()
      .groupBy("g")
      .agg(count(lit(1)).as("__nd"), min(col("__id")).as("__owner"))
      .filter(col("__nd") >= minDocs)
      .select("g", "__owner")
    // losing gram starts -> merged covered intervals (gap < k overlaps)
    val losers = grams.join(owners, "g")
      .filter(col("__id") =!= col("__owner"))
      .select("__id", "pos")
    val w = Window.partitionBy("__id").orderBy("pos")
    val cutIvs = losers
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) <= k - 1, lit(0)).otherwise(lit(1)))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("pos").as("__s"), (max("pos") + lit(k - 1)).as("__e"))
      .groupBy("__id")
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__ivs"))
    val toks = docs.select(col(idCol).as("__id"),
      posexplode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= ""))
        .as(Seq("pos", "tok")))
    toks.join(cutIvs, Seq("__id"), "left")
      .filter(col("__ivs").isNull ||
        !exists(col("__ivs"),
          iv => col("pos") >= iv("__s") && col("pos") <= iv("__e")))
      .groupBy("__id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_toks"))
      .select(col("__id").as(idCol), col("clean_text"), col("n_toks"))
  }

  /** Segment-level exact dedup with document reassembly — the line/
    * paragraph dedup of the C4 / RefinedWeb pipelines, over fixed
    * `segTokens`-token windows (this corpus has no line structure; real
    * corpora pass their own segmentation). Corpus-wide first occurrence
    * of each distinct segment survives (first = smallest (id, seg_idx));
    * every later copy is cut, and each document is rebuilt from its
    * surviving segments in order. Returns (id, clean_text, n_segs) for
    * documents with ≥1 surviving segment.
    *
    * Scale shape: segments shuffle as md5 digests + (id, idx) pairs —
    * never more than one segment's text per row, and the winner-per-
    * digest is one partial-aggregable min(struct) (no window over the
    * digest key). Reassembly groups by document: collect_list is bounded
    * by the document's own segment count — the per-doc batch shape, not
    * a driver materialization.
    */
  def dedupSegments(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    val toked = docs.select(col(idCol).as("__id"),
      split(col(textCol), " ").as("__t"))
    val segs = toked
      .filter(size(col("__t")) > 0)
      .select(col("__id"), posexplode(transform(
        sequence(lit(0), floor((size(col("__t")) - 1) / segTokens).cast("int")),
        i => concat_ws(" ", slice(col("__t"), i * segTokens + 1, lit(segTokens)))
      )).as(Seq("seg_idx", "seg")))
      .filter(col("seg") =!= "")
      .withColumn("d", md5(col("seg")))
      // two consumers (winner derivation + keep join): segment once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = segs.groupBy("d")
      .agg(min(struct(col("__id"), col("seg_idx"))).as("w"))
      .select(col("d").as("__wd"), col("w.__id").as("__wid"),
        col("w.seg_idx").as("__widx"))
    val kept = segs.join(winners,
      col("d") === col("__wd") && col("__id") === col("__wid") &&
        col("seg_idx") === col("__widx"))
    kept.groupBy("__id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_segs"))
      .select(col("__id").as(idCol), col("clean_text"), col("n_segs"))
  }

  /** Build the nightly cluster ARTIFACT for `docs` into `dir`: the
    * resolved label table (`clusters/` — [[resolveClusters]] over the
    * exact LSH pair set) plus the banded-signature store (`bands/` —
    * [[bandedSignatures]]), the two tables every later append reads.
    * This is night 0 of the maintenance protocol; ONE definition shared
    * by the registered queries and the soak harnesses so the recipe
    * cannot silently fork across them.
    */
  def buildClusterArtifact(docs: DataFrame, idCol: String,
      hashedCol: Column, dir: String, threshold: Double = 0.7,
      k: Int = 126, bands: Int = 21): Unit = {
    val pairs = minHashPairsHashed(docs, idCol, hashedCol, threshold, k, bands)
    resolveClusters(pairs, "id_a", "id_b")
      .write.mode("overwrite").parquet(dir + "/clusters")
    bandedSignatures(docs, idCol, hashedCol, k, bands)
      .write.mode("overwrite").parquet(dir + "/bands")
  }

  /** Roll a stored cluster artifact ONE NIGHT forward into `outDir` —
    * the production nightly append, end to end: increment x band-store
    * join + increment x increment LSH -> verified pairs
    * ([[minHashIncrementalFromBands]] — only candidate old docs are
    * re-read from `oldDocs`), [[updateClusters]] merge into the stored
    * label table, band store extended by the increment's frozen-seeded
    * signatures. The output dir is the NEXT night's `artDir` — the
    * cluster table's generation counter is the rolled dir itself — so
    * the same body serves every night at any depth (roll∘roll == one
    * full rebuild; DedupSpec + the q_dedup_clusters_cycle oracle pin
    * it). ONE definition shared by the registered queries and the soak
    * harnesses.
    */
  def rollClusterArtifact(artDir: String, oldDocs: DataFrame,
      incr: DataFrame, idCol: String, hashedCol: Column, outDir: String,
      threshold: Double = 0.7, k: Int = 126, bands: Int = 21): Unit = {
    val spark = incr.sparkSession
    val newPairs = minHashIncrementalFromBands(incr, oldDocs, idCol,
        hashedCol, Tables.parquet(spark, artDir + "/bands"), threshold, k, bands)
      .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      .unionAll(minHashPairsHashed(incr, idCol, hashedCol, threshold, k, bands)
        .select(col("id_a"), col("id_b")))
    updateClusters(Tables.parquet(spark, artDir + "/clusters"), newPairs)
      .write.mode("overwrite").parquet(outDir + "/clusters")
    Tables.parquet(spark, artDir + "/bands")
      .unionAll(bandedSignatures(incr, idCol, hashedCol, k, bands))
      .write.mode("overwrite").parquet(outDir + "/bands")
  }
}
