package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language id, quality scoring,
  * token counting, fingerprinting. North-star surface (the reference ships
  * zero scalar functions, /root/reference/src/planner/logicalplan.rs:64-71).
  *
  * Everything here is built from codegen'd Spark built-ins (split / regexp /
  * array set ops) plus graft's hash expressions — no UDFs, no driver loops;
  * each derivation is a per-row expression that rides the scan stage.
  */
object TextAnalysis {

  def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Stopword profiles for the five corpus languages — compact, standard
    * function-word lists (public knowledge). Used as a bag-of-words language
    * identifier: score = |tokens ∩ stopwords(lang)|.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "was", "at", "by", "be", "this"),
    "de" -> Seq("der", "die", "das", "und", "oder", "von", "zu", "im", "ist",
      "es", "dass", "für", "auf", "mit", "als", "war", "bei", "sein", "ein", "eine"),
    "es" -> Seq("el", "la", "los", "las", "y", "o", "de", "a", "en", "es",
      "que", "para", "con", "como", "fue", "por", "ser", "un", "una", "su"),
    "fr" -> Seq("le", "la", "les", "et", "ou", "de", "à", "dans", "est", "il",
      "que", "pour", "sur", "avec", "comme", "était", "par", "être", "un", "une"),
    "zh" -> Seq("的", "了", "和", "或", "在", "是", "这", "那", "为", "与",
      "对", "上", "中", "下", "个", "我", "你", "他", "们", "有"))

  /** Predicted language: argmax of stopword overlap, ties broken by list
    * order (en first), "und" when nothing matches. Expressed as array_max
    * over (score, priority, lang) structs — pure built-ins, deterministic.
    */
  def langId(toks: Column): Column = {
    val scored = stopwords.zipWithIndex.map { case ((lang, words), idx) =>
      struct(
        size(array_intersect(toks, typedLit(words))).as("score"),
        lit(stopwords.length - idx).as("prio"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** BPE-ish token-count estimate: word + punctuation pieces, plus the
    * classic chars/4 subword correction for long words.
    */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Repetition-based quality signals (Rae et al. '21 §A1.2, the Gopher
    * repetition gates): per document, the token coverage of the most
    * frequent word 2-gram and the duplicate fraction among word 5-grams.
    * Boilerplate and low-quality generation score high on both.
    *
    * Shape at 100 TB: entirely per-row — n-grams come from the O(tokens)
    * rolling-hash expression (no string materialization), and the
    * most-frequent-2-gram count is the longest equal-run of the SORTED
    * hash array (one O(n log n) sort + one linear fold — not the
    * O(distinct·n) nested count, which goes quadratic on long documents).
    * No explode, no shuffle; the operator rides the scan stage. Counting
    * on 64-bit hashes instead of gram text can merge two distinct grams
    * only on an intra-document collision (~n²·2⁻⁶⁴ per doc) — the same
    * tolerance the dedup/decontamination joins accept by design.
    *
    * Fractions are exact rational divisions of integer counts, so they
    * hash-compare bit-identically across engines.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // __hw binds the per-token hash array once — the 2-gram source, the
    // 5-gram source, and n_tokens all read it (three hashed_words
    // evaluations per row otherwise; custom expressions get no CSE);
    // __g5 likewise feeds both the total and the distinct count
    val hw = col("__hw")
    val g2 = graft.functions.ngram_poly_hashes(hw, 2)
    val g5 = col("__g5")
    // longest run in the sorted array == count of the most frequent value
    val top2RunSql =
      """aggregate(
        |  array_sort(__g2),
        |  named_struct('prev', CAST(NULL AS BIGINT), 'run', 0L, 'best', 0L),
        |  (acc, x) -> named_struct(
        |    'prev', x,
        |    'run',  IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1L, 1L),
        |    'best', GREATEST(acc.best,
        |      IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1L, 1L))),
        |  acc -> acc.best)""".stripMargin
    // n_tokens uses the SAME tokenizer as the grams (whitespace runs, no
    // empty tokens) — mixing it with a single-space split would skew the
    // fractions on multi-space text
    df.withColumn("__hw", graft.functions.hashed_words(col(textCol)))
      .withColumn("__g5", graft.functions.ngram_poly_hashes(hw, 5))
      .withColumn("__g2", g2)
      .select(col(idCol),
        size(hw).cast("long").as("n_tokens"),
        expr(top2RunSql).as("top2_count"),
        size(g5).cast("long").as("n_5grams"),
        size(array_distinct(g5)).cast("long").as("n_5grams_distinct"))
      .withColumn("top2_frac",
        when(col("n_tokens") > 0,
          // clamp: overlapping repeats of the top 2-gram ("a a a" ->
          // count 2, 3 tokens) can push count*2/n past 1.0, unlike the
          // non-overlapping Gopher coverage; cap so the [0,1] gate
          // contract holds
          least(lit(1.0),
            (col("top2_count") * 2).cast("double") / col("n_tokens").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("dup5_frac",
        when(col("n_5grams") > 0,
          (col("n_5grams") - col("n_5grams_distinct")).cast("double") /
            col("n_5grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Corpus-unigram negative log-likelihood per document in exact integer
    * micros — the CCNet-style LM quality proxy (perplexity-ranked
    * filtering) with the corpus's own unigram distribution standing in for
    * the external LM. High NLL = improbable token stream.
    *
    * Shape at 100 TB: the unigram table is ONE vocabulary-bounded
    * aggregate (partial map-side counts, vocab-sized result). When the
    * vocabulary fits a broadcast (`maxBroadcastVocab`), it folds into a
    * broadcast literal map and scoring is a per-row HOF fold over the
    * token array — documents are never exploded and never shuffled. A
    * web-scale vocabulary overflows both the single-row `collect_list`
    * and the broadcast, with an opaque failure — and long before that,
    * `element_at` on a literal map is a LINEAR scan per lookup, so
    * per-token cost grows with the vocabulary (the default cap of 512
    * reflects the measured crossover, not the overflow bound). Past the
    * threshold the operator switches to the distributed path: explode
    * tokens, join the cost table on the word, re-aggregate per doc (two
    * shuffles, but every stage is data-parallel and spillable). The vocab count that
    * picks the path is one eager action on the persisted vocab-sized
    * cost table. Per-token costs are rounded to micros BEFORE the
    * per-doc sum, so both paths return bit-identical,
    * summation-order-independent totals (FIXTURES.md §5). Requires the
    * scored text's vocabulary ⊆ the LM's (true here by construction);
    * scoring foreign text would need an OOV fallback cost.
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
      maxBroadcastVocab: Long = 512L): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val unigrams = df
      .select(explode(toks).as("__k"))
      .groupBy("__k").agg(count(lit(1)).cast("double").as("__c"))
    val total = unigrams.agg(sum(col("__c")).as("__t"))
    val costs = unigrams.crossJoin(broadcast(total))
      .select(col("__k"),
        round(-log(col("__c") / col("__t")) * lit(1e6), 0).cast("long").as("__cost"))
    scoreByCostTable(df, idCol, toks, costs, maxBroadcastVocab,
      "n_tokens", "nll_micro")
  }

  /** The shared two-path scorer behind [[unigramNll]] and [[bigramNll]]:
    * `costs` = (__k string key, __cost long) derived from the same
    * corpus. Both paths emit every input row (null/empty term arrays
    * score (0, 0)) and, because per-term costs are integral, agree
    * bit-for-bit at any vocab size — path choice is performance only.
    */
  private def scoreByCostTable(df: DataFrame, idCol: String, terms: Column,
      costs: DataFrame, maxBroadcastVocab: Long,
      nName: String, sumName: String,
      afterMaterialize: () => Unit = () => ()): DataFrame = {
    // RDD-level persist, not DataFrame persist and not localCheckpoint:
    // the cost table must be materialized once (path choice needs its
    // size; the join path reuses it), but a CacheManager entry would
    // outlive the returned plan (repeated invocations in a long-lived
    // session accumulate cached blocks until someone calls clearCache),
    // and a localCheckpoint TRUNCATES lineage — after an executor loss
    // the returned join-path plan would be unrecoverable. An RDD persist
    // gives all three: blocks are auto-reclaimed by the ContextCleaner
    // when the plan is GC'd, lineage survives for recompute on block
    // loss, and the table (vocab-bounded, small) is evaluated once.
    val spark = df.sparkSession
    val costRdd = costs.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val materialized = spark.createDataFrame(costRdd, costs.schema)
    val vocab = materialized.count()
    afterMaterialize() // upstream caches (knBigramNll's pairs) now released
    if (vocab <= maxBroadcastVocab) {
      // collect to a plan literal: ≤ maxBroadcastVocab entries by
      // definition, and the returned plan then holds no block references
      val costMap = typedLit(materialized.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      costRdd.unpersist(blocking = false) // driver holds the literal now
      // bind the term array ONCE: it is an expensive HOF (tokenize +
      // zip for bigrams) referenced by both outputs, and HOFs get no
      // codegen subexpression elimination — the twice-referenced
      // non-cheap alias keeps its projection boundary (CollapseProject)
      df.withColumn("__t", terms)
        .select(col(idCol),
          coalesce(size(col("__t")), lit(0)).cast("long").as(nName),
          coalesce(aggregate(col("__t"), lit(0L),
            (acc, t) => acc + element_at(costMap, t)), lit(0L)).as(sumName))
    } else {
      val scored = df.select(col(idCol), explode(terms).as("__k"))
        .join(materialized, "__k")
        .groupBy(col(idCol))
        .agg(count(lit(1)).cast("long").as(nName), sum(col("__cost")).as(sumName))
      // rows whose term array was null/empty have nothing to join — restore
      df.select(col(idCol)).join(scored, Seq(idCol), "left")
        .select(col(idCol), coalesce(col(nName), lit(0L)).as(nName),
          coalesce(col(sumName), lit(0L)).as(sumName))
    }
  }

  /** Bigram conditional NLL per document — one rung up the n-gram LM
    * ladder from [[unigramNll]]: cost(w1 w2) = −log(c(w1,w2) / c(w1)),
    * i.e. the MLE conditional P(w2|w1), summed over a document's
    * adjacent pairs. Catches locally-improbable SEQUENCES (word-salad,
    * shuffled boilerplate) that unigram frequency scoring cannot, since
    * it conditions on the previous word.
    *
    * Same two-path shape and determinism contract as [[unigramNll]]:
    * the bigram cost table is one vocab-bounded aggregate joined to the
    * unigram counts; under `maxBroadcastVocab` it broadcasts as a map
    * and scoring is a per-row HOF fold over the document's bigram array
    * (no explode, no shuffle of documents); past it, explode + join +
    * re-aggregate, all data-parallel. Per-bigram micros are rounded
    * BEFORE the per-doc sum, so both paths agree bit-for-bit.
    * Documents with < 2 tokens score (0, 0).
    *
    * The default cap is LOW (512, like [[unigramNll]]'s) because the
    * map path's `element_at` on a literal map is a LINEAR scan per
    * lookup — measured at sf0.1, a 931-entry bigram map costs 11 s
    * against the explode+join's 1.2 s. The distributed path is the
    * fast one for anything beyond a small closed vocabulary; the map
    * path exists for the tiny-vocab case where it avoids two shuffles.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      maxBroadcastVocab: Long = 512L): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    def bigramsOf(t: Column): Column = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val pairs = df.select(explode(bigramsOf(toks)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).cast("double").as("__c2"))
    val firsts = df.select(explode(toks).as("__w"))
      .groupBy("__w").agg(count(lit(1)).cast("double").as("__c1"))
    val costs = pairs
      .withColumn("__w", split(col("__b"), " ").getItem(0))
      .join(firsts, "__w")
      .select(col("__b").as("__k"),
        round(-log(col("__c2") / col("__c1")) * lit(1e6), 0).cast("long").as("__cost"))
    scoreByCostTable(df, idCol, bigramsOf(toks), costs, maxBroadcastVocab,
      "n_bigrams", "nll_micro")
  }

  /** Interpolated Kneser-Ney bigram NLL (Kneser & Ney '95; Chen &
    * Goodman '99 formulation) — the smoothing rung above [[bigramNll]]'s
    * raw MLE: absolute discount D on the bigram count, with the freed
    * mass backed off to the CONTINUATION probability (how many distinct
    * contexts a word follows, not how often it occurs — the famous
    * "San Francisco" correction):
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * All five statistics are exact integer aggregates of the BIGRAM-TYPE
    * table (c(w1·) = Σ_w2 c(w1w2), the context count, so doc-final
    * tokens don't skew contexts); the per-bigram cost −ln P is computed
    * in ONE fixed IEEE operation order and micro-rounded BEFORE the
    * per-doc sum, so scores oracle exactly like the other LM queries
    * (q_kneser_ney). D = 0.75 — the Chen-Goodman near-optimal constant,
    * exactly representable in binary so discounted counts stay exact.
    *
    * Shape at 100 TB: the model is three vocab-bounded aggregates OVER
    * THE BIGRAM-TYPE TABLE (not the corpus) + one scalar; scoring is
    * [[scoreByCostTable]]'s two-path broadcast-map / explode-join, all
    * map-side-combinable. Nothing beyond the tokenize scan touches the
    * corpus twice.
    */
  def knBigramNll(df: DataFrame, idCol: String, textCol: String,
      maxBroadcastVocab: Long = 512L): DataFrame = {
    val D = 0.75
    val toks = split(lower(col(textCol)), " ")
    def bigramsOf(t: Column): Column = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    // the bigram-TYPE table feeds FOUR aggregates below — persist it
    // (vocab-bounded) or each one re-scans and re-shuffles the corpus
    // (measured 4.4x instead of ~1.5x on the 10x soak without this);
    // released via the afterMaterialize hook the moment the downstream
    // cost table is checkpointed, so nothing stays cached across calls
    val pairs = df.select(explode(bigramsOf(toks)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).cast("double").as("__c2"))
      .withColumn("__w1", split(col("__b"), " ").getItem(0))
      .withColumn("__w2", split(col("__b"), " ").getItem(1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // context stats: c1 = Σ bigram counts from w1 (exact integral doubles,
    // order-free), n1fwd = distinct continuations of w1
    val ctx = pairs.groupBy("__w1").agg(sum("__c2").as("__c1"),
      count(lit(1)).cast("double").as("__n1fwd"))
    val cont = pairs.groupBy("__w2").agg(
      count(lit(1)).cast("double").as("__n1rev"))
    val types = pairs.agg(count(lit(1)).cast("double").as("__nt"))
    val costs = pairs
      .join(ctx, "__w1").join(cont, "__w2").crossJoin(broadcast(types))
      .select(col("__b").as("__k"),
        round(-log(
          greatest(col("__c2") - lit(D), lit(0.0)) / col("__c1")
            + lit(D) * col("__n1fwd") / col("__c1")
              * (col("__n1rev") / col("__nt"))
        ) * lit(1e6), 0).cast("long").as("__cost"))
    scoreByCostTable(df, idCol, bigramsOf(toks), costs, maxBroadcastVocab,
      "n_bigrams", "nll_micro", () => { pairs.unpersist(); () })
  }

  /** Per-group Zipf fit — "does this shard's term distribution look like
    * natural language?": OLS slope of ln(freq) on ln(rank) over the
    * group's term-frequency table, ≈ −s for a Zipf exponent s (natural
    * corpora: s ≈ 1; machine-generated/spam text deviates — a cheap
    * corpus-health gate). Composition of existing pieces: term counts
    * (one corpus aggregate), per-group rank (a window over the
    * VOCAB-sized table, never the corpus), then [[Trend.olsPerGroup]]
    * on micro-quantized logs — ln of exact integer counts is the same
    * IEEE double everywhere, so the fit oracles like `q_ols_trend`.
    * Returns (group, vocab = n, slope, intercept) from Trend. UNITS:
    * the 1e6 log quantization cancels in `slope` (µ/µ — natural units,
    * ≈ −s) but NOT in `intercept`, which comes back in MICRO-ln units
    * (divide by 1e6 for ln c).
    */
  def zipfFit(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(groupCol).as("__g"),
        explode(split(lower(col(textCol)), " ")).as("__w"))
      .groupBy("__g", "__w").agg(count(lit(1)).as("__f"))
    val ranked = tf.withColumn("__r", row_number().over(
      Window.partitionBy("__g").orderBy(col("__f").desc, col("__w"))))
    Trend.olsPerGroup(ranked, Seq("__g"),
        floor(log(col("__r").cast("double")) * lit(1e6)),
        floor(log(col("__f").cast("double")) * lit(1e6)))
      .withColumnRenamed("__g", groupCol)
  }

  /** Canonical text normalization for dedup keys and matching: accent-fold
    * (codegen'd NFD strip), lowercase, non-alphanumerics to spaces, collapse
    * runs, trim. Mirrors DuckDB lower(strip_accents(..)) + regexp cleanup.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(graft.functions.unaccent(c)), "[^a-z0-9 ]", " "),
      " +", " "))

  /** The four Gopher hard gates (Rae et al. 2021 §A1.1 heuristics) as
    * named boolean Columns — word-count window, mean-word-length window,
    * symbol-ratio cap, lexical-diversity floor — SHARED by the reporting
    * query (q_gopher_rules selects all four) and the streaming curation
    * gate (filters on [[gopherGate]], their conjunction), so the two
    * surfaces cannot drift. Space-split tokens deliberately (the raw
    * Gopher formulation), not the [[tokens]] regex tokenizer.
    */
  def gopherGates(text: Column): Seq[(String, Column)] = {
    val toksC = split(text, " ")
    val nW = size(toksC).cast("double")
    Seq(
      "wc_ok" -> size(toksC).between(50, 100000),
      "mwl_ok" -> (length(regexp_replace(text, " ", "")).cast("double") / nW)
        .between(3.0, 10.0),
      "sym_ok" -> (length(regexp_replace(text, "[A-Za-z0-9 ]", "")).cast("double")
        <= lit(0.1) * length(text).cast("double")),
      "div_ok" -> (size(array_distinct(toksC)).cast("double") >= lit(0.2) * nW))
  }

  /** All four gates pass. */
  def gopherGate(text: Column): Column =
    gopherGates(text).map(_._2).reduce(_ && _)

  /** The SAME four gates in DuckDB SQL (for oracles), name → clause. */
  def gopherGateSql(textCol: String): Seq[(String, String)] = {
    val toks = s"string_split($textCol, ' ')"
    Seq(
      "wc_ok" -> s"(len($toks) BETWEEN 50 AND 100000)",
      "mwl_ok" -> (s"(CAST(length(replace($textCol, ' ', '')) AS DOUBLE) / CAST(len($toks) AS DOUBLE)" +
        " BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE))"),
      "sym_ok" -> (s"(CAST(length(regexp_replace($textCol, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)" +
        s" <= CAST(0.1 AS DOUBLE) * CAST(length($textCol) AS DOUBLE))"),
      "div_ok" -> (s"(CAST(len(list_distinct($toks)) AS DOUBLE)" +
        s" >= CAST(0.2 AS DOUBLE) * CAST(len($toks) AS DOUBLE))"))
  }

  /** Heuristic quality score in [0,1]: blends token-length plausibility,
    * alphabetic ratio, lexical diversity, and stopword presence — the
    * standard cheap pre-filter shape for web-scale corpora. Deterministic
    * double arithmetic (same IEEE ops per row everywhere).
    */
  def qualityScore(text: Column, toks: Column): Column =
    round(qualityScoreRaw(text, toks), 6)

  /** Unrounded score — same IEEE double ops in the same order as the DuckDB
    * oracle formulation, so threshold comparisons agree bit-for-bit.
    */
  def qualityScoreRaw(text: Column, toks: Column): Column = {
    val nChars  = length(text).cast("double")
    val nToks   = size(toks).cast("double")
    val nUniq   = size(array_distinct(toks)).cast("double")
    val alpha   = (nChars - length(regexp_replace(text, "[a-zA-Z ]", ""))) / (nChars + lit(1.0))
    val avgTok  = nChars / (nToks + lit(1.0))
    val lenOk   = when(avgTok.between(3.0, 12.0), 1.0).otherwise(0.5)
    val diverse = nUniq / (nToks + lit(1.0))
    // any-stopword test: one overlap probe against the union vocabulary
    // (equivalent to summing per-language intersections > 0, one pass,
    // early exit) — the per-language intersects cost 5 hash-set builds/row
    val anyStop = arrays_overlap(toks,
      typedLit(stopwords.flatMap(_._2).distinct))
    val stopOk  = when(anyStop, 1.0).otherwise(0.3)
    alpha * 0.3 + lenOk * 0.2 + diverse * 0.2 + stopOk * 0.3
  }

  /** The SAME score as [[qualityScoreRaw]] in DuckDB SQL (for oracles).
    * Literals are cast to DOUBLE (DuckDB parses `0.3` as DECIMAL) and the
    * add/multiply order mirrors the Column formulation exactly.
    */
  def qualityScoreSql(textCol: String): String = {
    // [\s\x0b]: RE2's \s lacks vertical tab, Java's \s (the Spark side's
    // tokenizer class) includes it
    val toks = s"string_split_regex(lower($textCol), '[\\s\\x0b]+')"
    val nChars = s"CAST(length($textCol) AS DOUBLE)"
    val nToks = s"CAST(len($toks) AS DOUBLE)"
    val nUniq = s"CAST(len(list_distinct($toks)) AS DOUBLE)"
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val alpha = s"(($nChars - CAST(length(regexp_replace($textCol, '[a-zA-Z ]', '', 'g')) AS DOUBLE)) / ($nChars + ${d("1.0")}))"
    val avgTok = s"($nChars / ($nToks + ${d("1.0")}))"
    val lenOk = s"(CASE WHEN $avgTok BETWEEN ${d("3.0")} AND ${d("12.0")} THEN ${d("1.0")} ELSE ${d("0.5")} END)"
    val diverse = s"($nUniq / ($nToks + ${d("1.0")}))"
    val unionVocab = stopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val stopOk = s"(CASE WHEN list_has_any($toks, $unionVocab) THEN ${d("1.0")} ELSE ${d("0.3")} END)"
    s"($alpha * ${d("0.3")} + $lenOk * ${d("0.2")} + $diverse * ${d("0.2")} + $stopOk * ${d("0.3")})"
  }

  /** The SAME language prediction as [[langId]] in DuckDB SQL (for
    * oracles): struct max over per-language (score, prio, lang), score =
    * |tokens ∩ stopwords| — DuckDB compares structs field-by-field
    * exactly like Spark's array_max over structs.
    */
  def langIdSql(textCol: String): String = {
    val toks = s"string_split_regex(lower($textCol), '[\\s\\x0b]+')"
    val structs = stopwords.zipWithIndex.map { case ((lang, words), idx) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'score': CAST(len(list_intersect($toks, $lst)) AS INT), " +
        s"'prio': ${stopwords.length - idx}, 'lang': '$lang'}"
    }
    val best = structs.mkString("list_aggregate([", ", ", "], 'max')")
    s"(CASE WHEN ($best).score > 0 THEN ($best).lang ELSE 'und' END)"
  }

  /** Overlapping token-window chunking — the standard context-window prep
    * for LLM training: windows of `chunkTokens` every `strideTokens`. A
    * per-row explode over a bounded index sequence (no UDF, no shuffle);
    * output rows carry (id, chunk_idx, chunk, n_toks). `maxChunks` bounds
    * the generated sequence: ceil(max_doc_tokens / strideTokens).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int, maxChunks: Int): DataFrame = {
    val tk = split(col(textCol), " ")
    df.select(col(idCol), tk.as("tk"))
      .select(col(idCol), col("tk"),
        explode(sequence(lit(0), lit(maxChunks - 1))).as("chunk_idx"))
      .filter(col("chunk_idx") * strideTokens < size(col("tk")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("tk"), col("chunk_idx") * strideTokens + 1, lit(chunkTokens)), " ")
          .as("chunk"),
        size(slice(col("tk"), col("chunk_idx") * strideTokens + 1, lit(chunkTokens)))
          .cast("long").as("n_toks"))
  }

  /** Standard stats bundle over a text column. The token array is bound
    * once (__t) — n_tokens and n_unique_tokens both read it, and the
    * regex tokenize gets no codegen CSE across the two references.
    */
  def stats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__t", tokens(col(textCol)))
      .withColumn("n_chars2", length(col(textCol)).cast("long"))
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("n_unique_tokens",
        size(array_distinct(col("__t"))).cast("long"))
      .withColumn("tok_est", tokenEstimate(col(textCol)).cast("long"))
      .drop("__t")

  /** Hashed bag-of-words linear scoring — the fastText-classifier shape of
    * the CCNet/RedPajama quality filters, as ONE per-row expression chain:
    * token → hashing-trick bucket (first 8 md5 hex chars mod `buckets`,
    * the engine-portable [[Mixture.hashSplit]] idiom) → integer-micro
    * weight → per-document sum via a HOF fold. No explode, no shuffle, no
    * UDF — the score rides the scan stage, which is what lets a learned
    * quality gate run over 100 TB as a filter pushed against the read.
    *
    * The weight table is a pure function of the bucket id (`w(b) =
    * (b·2654435761) mod 1997 − 998` micro-units) so the pipeline shape is
    * testable without shipping a model; a real deployment swaps in learned
    * weights via a 256-entry broadcast map or a `CASE` expression — same
    * plan either way.
    */
  /** [[hashedLinearScore]]'s scoring pass under an EXPLICIT weight table —
    * the APPLY side of a trained model (e.g. [[logisticTrainN]]'s output):
    * per-document integer-micro margin `w . x` as the same no-shuffle HOF
    * fold, weights shipped as a 256-entry array literal (KBs broadcast
    * with the plan). Returns (idCol, score_micro, n_toks), the
    * hashedLinearScore contract.
    */
  def linearMargins(df: DataFrame, idCol: String, textCol: String,
      weightsMicro: Seq[Long], buckets: Int = 256,
      keepCols: Seq[String] = Nil): DataFrame = {
    require(weightsMicro.size == buckets,
      s"need $buckets weights, got ${weightsMicro.size}")
    val wArr = typedLit(weightsMicro)
    val bucketOf: Column => Column = t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    // NULL text coalesces to an empty token array: the fold then scores 0
    // with n_toks 0 instead of propagating NULL — matching the DuckDB
    // oracle's coalesce(list_sum(...), 0) convention on both engines.
    df.withColumn("__t", coalesce(
        filter(tokens(col(textCol)), t => t =!= ""),
        typedLit(Seq.empty[String])))
      .select(col(idCol) +: keepCols.map(col) :+
        aggregate(transform(col("__t"),
            t => element_at(wArr, (bucketOf(t) + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("score_micro") :+
        size(col("__t")).cast("long").as("n_toks"): _*)
  }

  /** One logistic-regression gradient step over the hashed bag-of-words
    * features of [[hashedLinearScore]] — the TRAINING side of the
    * CCNet/fastText quality gate, distributed the way 100 TB needs:
    *
    *  - per-document margin `w . x` is an INTEGER fold over the token
    *    array (weights in integer micros, counts integral), so it rides
    *    the scan with no IEEE order sensitivity at all;
    *  - the only floating step is one `sigmoid(margin)` per document from
    *    an exact integer input, micro-quantized into the residual BEFORE
    *    any cross-row sum (the q_kmeans_step pattern) — the gradient
    *    aggregate is an exact integer sum, bit-equal at any parallelism;
    *  - the shuffle carries (bucket, residual_micro) partial sums only:
    *    `buckets` keys with map-side combine, never the documents.
    *
    * Gradient of the logistic loss: grad_j = sum_i (sigmoid(w.x_i) - y_i)
    * * x_ij, emitted as integer micros per feature bucket. Returns
    * (bucket, grad_micro, n_terms) for every bucket with support.
    */
  def logisticGradStep(df: DataFrame, textCol: String, label: Column,
      weightsMicro: Seq[Long], buckets: Int = 256): DataFrame = {
    require(weightsMicro.size == buckets,
      s"need $buckets weights, got ${weightsMicro.size}")
    gradStepOnBuckets(bucketedFeatures(df, textCol, label, buckets),
      weightsMicro, buckets)
  }

  /** Weight-INDEPENDENT featurization shared by every gradient step of a
    * training run: one (__y label, __b hashed-bucket array) row per
    * document. The token array is bound once (__t) and hashed once (__b
    * — HOFs get no codegen subexpression elimination); everything
    * weight-dependent lives in [[gradStepOnBuckets]], so the GD loops
    * can persist THIS frame and stop re-tokenizing + re-hashing the
    * corpus on every step. NULL text propagates (null __b) exactly as in
    * the original inlined step: the explode drops such rows, and the
    * bias variant coalesces __b to empty where it used to coalesce __t
    * (transform(NULL) is NULL, so the two coalesce points are
    * equivalent).
    */
  private def bucketedFeatures(df: DataFrame, textCol: String, label: Column,
      buckets: Int): DataFrame = {
    val bucketOf: Column => Column = t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    df.withColumn("__t", filter(tokens(col(textCol)), t => t =!= ""))
      .withColumn("__b", transform(col("__t"), bucketOf))
      .select(label.as("__y"), col("__b"))
  }

  /** The weight-dependent half of [[logisticGradStep]] over an
    * already-featurized (__y, __b) frame.
    */
  private def gradStepOnBuckets(feats: DataFrame, weightsMicro: Seq[Long],
      buckets: Int): DataFrame = {
    val wArr = typedLit(weightsMicro)
    feats
      .withColumn("__m", aggregate(
        transform(col("__b"), b => element_at(wArr, (b + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x))
      .withColumn("__r", round(
        (lit(1.0) / (lit(1.0) + exp(-col("__m").cast("double") / lit(1e6)))
          - col("__y").cast("double")) * lit(1e6), 0).cast("long"))
      .select(explode(col("__b")).as("bucket"), col("__r"))
      .groupBy("bucket")
      .agg(sum(col("__r")).as("grad_micro"),
        count(lit(1)).cast("long").as("n_terms"))
  }

  /** [[logisticGradStep]] with a BIAS (intercept) feature — the training
    * hardening a real quality gate needs: on an imbalanced corpus the
    * no-intercept model wastes its feature weights encoding the base
    * rate. `weightsMicro` has `buckets + 1` entries, the LAST being the
    * intercept; every document carries the implicit x_bias = 1, so the
    * margin adds w_bias once per doc and the gradient table gains one
    * row at bucket = `buckets` (Σ residuals — once per DOCUMENT, not per
    * token). Same exact-integer discipline as the unbiased step: one
    * sigmoid per doc micro-quantized before any cross-row sum; the
    * shuffle carries buckets+1 keys.
    */
  def logisticGradStepBias(df: DataFrame, textCol: String, label: Column,
      weightsMicro: Seq[Long], buckets: Int = 256): DataFrame = {
    require(weightsMicro.size == buckets + 1,
      s"need ${buckets + 1} weights (incl. bias), got ${weightsMicro.size}")
    gradStepBiasOnBuckets(bucketedFeatures(df, textCol, label, buckets),
      weightsMicro, buckets)
  }

  /** The weight-dependent half of [[logisticGradStepBias]] over an
    * already-featurized (__y, __b) frame. NULL __b coalesces to an empty
    * array here (the original coalesced the token array; transform(NULL)
    * is NULL so the two are the same frame) — a text-less document still
    * contributes its bias-row residual.
    */
  private def gradStepBiasOnBuckets(feats: DataFrame, weightsMicro: Seq[Long],
      buckets: Int): DataFrame = {
    val wArr = typedLit(weightsMicro)
    feats
      .withColumn("__bc", coalesce(col("__b"), typedLit(Seq.empty[Long])))
      .withColumn("__m", aggregate(
        transform(col("__bc"), b => element_at(wArr, (b + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x) + element_at(wArr, buckets + 1))
      .withColumn("__r", round(
        (lit(1.0) / (lit(1.0) + exp(-col("__m").cast("double") / lit(1e6)))
          - col("__y").cast("double")) * lit(1e6), 0).cast("long"))
      // bucket ids ride the row; the bias sentinel joins the explode so
      // ONE aggregate produces the whole (buckets+1)-row gradient table
      .select(explode(concat(col("__bc"),
          array(lit(buckets.toLong)))).as("bucket"),
        col("__r"))
      .groupBy("bucket")
      .agg(sum(col("__r")).as("grad_micro"),
        count(lit(1)).cast("long").as("n_terms"))
  }

  /** `steps` regularized full-batch GD steps of [[logisticGradStepBias]]:
    * w_j ← w_j − lr·grad_j/n − lr·λ·w_j (all exact integer micros; the
    * shrink term is `lrMicro·l2Micro·w_j / 1e12`, truncating toward
    * zero like every Long division here). The INTERCEPT is not
    * regularized — shrinking it would re-bias an imbalanced fit, the
    * standard convention. L2 bounds the weights on separable data where
    * the unregularized trainer grows them without limit
    * (TextAnalysisSpec pins both laws). Returns `buckets + 1` weights,
    * bias last.
    */
  def logisticTrainReg(df: DataFrame, textCol: String, label: Column,
      init: Seq[Long], steps: Int, lrMicro: Long, n: Long, l2Micro: Long,
      buckets: Int = 256): Seq[Long] = {
    require(n > 0, s"logisticTrainReg needs a non-empty corpus (n=$n); " +
      "pass n = df.count() and train only when data exists")
    require(init.size == buckets + 1,
      s"need ${buckets + 1} init weights (incl. bias), got ${init.size}")
    // featurize ONCE: the (__y, __b) frame is weight-independent, so the
    // per-step scans read persisted bucket arrays instead of re-running
    // tokenize + per-token md5 every step (the loop is eager — each step
    // collects its bounded gradient table — so the unpersist is safe).
    // A single-step run reads the frame once and skips the persist (cache
    // materialization with zero reuse is pure overhead).
    val base = bucketedFeatures(df, textCol, label, buckets)
    val feats =
      if (steps > 1)
        base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base
    try {
      var w = init.toVector
      var s = 0
      while (s < steps) {
        val grads = gradStepBiasOnBuckets(feats, w, buckets)
          .collect() // buckets + 1 rows — bounded
          .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        w = w.zipWithIndex.map { case (wj, j) =>
          val data = lrMicro * grads.getOrElse(j, 0L) / (1000000L * n)
          val shrink =
            if (j == buckets) 0L else lrMicro * l2Micro * wj / 1000000000000L
          wj - data - shrink
        }
        s += 1
      }
      w
    } finally { if (steps > 1) { feats.unpersist(blocking = false); () } }
  }

  /** `steps` full-batch gradient-descent steps of [[logisticGradStep]].
    * Each step's driver round-trip is the `buckets`-row gradient table
    * (bounded merge-table contract); the update is integer arithmetic
    * (w_j -= lrMicro * grad_j / (1e6 * n)), deterministic at any
    * partitioning. Returns the final weight table in micros.
    */
  def logisticTrainN(df: DataFrame, textCol: String, label: Column,
      init: Seq[Long], steps: Int, lrMicro: Long, n: Long,
      buckets: Int = 256): Seq[Long] = {
    // n divides the update — an empty corpus would otherwise surface as a
    // bare ArithmeticException from Long division deep in the loop
    require(n > 0, s"logisticTrainN needs a non-empty corpus (n=$n); " +
      "pass n = df.count() and train only when data exists")
    // featurize ONCE across the steps — see [[logisticTrainReg]]
    val base = bucketedFeatures(df, textCol, label, buckets)
    val feats =
      if (steps > 1)
        base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base
    try {
      var w = init.toVector
      var s = 0
      while (s < steps) {
        val grads = gradStepOnBuckets(feats, w, buckets)
          .collect() // buckets rows — bounded
          .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        w = w.zipWithIndex.map { case (wj, j) =>
          wj - lrMicro * grads.getOrElse(j, 0L) / (1000000L * n)
        }
        s += 1
      }
      w
    } finally { if (steps > 1) { feats.unpersist(blocking = false); () } }
  }

  /** Confusion-matrix evaluation of a trained hashed-BoW classifier over
    * a labeled frame — the metric pass that closes the train → apply →
    * EVALUATE loop (a quality gate nobody measured is a quality gate
    * nobody can trust). Prediction = margin w·x > 0, i.e. sigmoid > 0.5;
    * `weightsMicro` is either a plain `buckets`-entry table
    * ([[logisticTrainN]]) or `buckets + 1` with the intercept last
    * ([[logisticTrainReg]]).
    *
    * Scale shape: ONE corpus scan — the margin is the same no-shuffle
    * integer HOF fold as [[linearMargins]], the confusion matrix is a
    * single 4-counter aggregate (map-side combinable, one row out), and
    * precision/recall/F1/accuracy are exact integer-micro divisions over
    * those counters, so no float ever crosses a row boundary and the
    * result is bit-equal at any parallelism. F1 uses the single-division
    * form 2·tp / (2·tp + fp + fn) — no compounding of rounded P and R.
    */
  /** The integer-micro margin w·x (+ intercept when the table carries
    * one) of a trained hashed-BoW model over `textCol` — the shared
    * scoring expression behind [[classifierEval]] and
    * [[classifierCurve]]: a pure per-row HOF fold, no shuffle, NULL text
    * scores as the empty document (bias only).
    */
  private def marginMicroOf(textCol: String, weightsMicro: Seq[Long],
      buckets: Int): Column = {
    val withBias = weightsMicro.size == buckets + 1
    require(withBias || weightsMicro.size == buckets,
      s"need $buckets or ${buckets + 1} weights, got ${weightsMicro.size}")
    val wArr = typedLit(weightsMicro)
    val bucketOf: Column => Column = t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    val bias = if (withBias) element_at(wArr, buckets + 1) else lit(0L)
    val toks = coalesce(
      filter(tokens(col(textCol)), t => t =!= ""),
      typedLit(Seq.empty[String]))
    aggregate(
      transform(toks, t => element_at(wArr, (bucketOf(t) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x) + bias
  }

  def classifierEval(df: DataFrame, textCol: String, label: Column,
      weightsMicro: Seq[Long], buckets: Int = 256): DataFrame = {
    val cells = df
      .withColumn("__m", marginMicroOf(textCol, weightsMicro, buckets))
      .select((label === 1L).as("__y"), (col("__m") > 0L).as("__p"))
      .agg(
        // coalesce: an empty frame evaluates to an all-zero matrix, not a
        // NULL row (sum over zero rows is NULL)
        coalesce(sum(when(col("__y") && col("__p"), 1L).otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)), lit(0L)).as("tn"))
    // `div` (integral division) — Spark's `/` on longs returns double;
    // all counters are non-negative so floor == truncation on both engines
    cells.selectExpr("tp", "fp", "fn", "tn",
      "CASE WHEN tp + fp = 0 THEN 0L ELSE 1000000L * tp div (tp + fp) END AS precision_micro",
      "CASE WHEN tp + fn = 0 THEN 0L ELSE 1000000L * tp div (tp + fn) END AS recall_micro",
      "CASE WHEN 2L * tp + fp + fn = 0 THEN 0L ELSE 2000000L * tp div (2L * tp + fp + fn) END AS f1_micro",
      "CASE WHEN tp + fp + fn + tn = 0 THEN 0L ELSE 1000000L * (tp + tn) div (tp + fp + fn + tn) END AS accuracy_micro")
  }

  /** Margin-threshold OPERATING CURVE of a trained hashed-BoW classifier
    * — the q_ann_probe_curve pattern applied to the quality gate: the
    * confusion matrix and exact-micro precision/recall/F1/accuracy at
    * each margin threshold (prediction = margin > thr), the table a
    * deployment picks its operating point from.
    *
    * Scale shape: ONE corpus scan — the margin rides the scan as the
    * same no-shuffle fold as [[classifierEval]], each scored row joins
    * the BROADCAST k-row threshold dim, and the matrix is a k-group
    * 4-counter aggregate (map-side combinable): k·4 longs cross the
    * exchange, never the corpus. All rates are exact integer-micro
    * divisions, bit-equal at any parallelism.
    *
    * Empty-input contract differs from [[classifierEval]]: the grouped
    * aggregate of an empty frame has NO groups, so the curve of an
    * empty split is an EMPTY table (no threshold rows) — not one
    * all-zero row per threshold. Callers indexing by threshold must
    * treat a missing row as "no data", not "all negative".
    */
  def classifierCurve(df: DataFrame, textCol: String, label: Column,
      weightsMicro: Seq[Long], thresholdsMicro: Seq[Long],
      buckets: Int = 256): DataFrame = {
    require(thresholdsMicro.nonEmpty, "need at least one threshold")
    import df.sparkSession.implicits._
    val thr = thresholdsMicro.toDF("thr_micro")
    df.select((label === 1L).as("__y"),
        marginMicroOf(textCol, weightsMicro, buckets).as("__m"))
      .crossJoin(broadcast(thr))
      .select(col("thr_micro"), col("__y"), (col("__m") > col("thr_micro")).as("__p"))
      .groupBy("thr_micro")
      // no coalesce needed (unlike classifierEval's global agg): a
      // grouped sum is never NULL within an existing group
      .agg(
        sum(when(col("__y") && col("__p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)).as("tn"))
      .selectExpr("thr_micro", "tp", "fp", "fn", "tn",
        "CASE WHEN tp + fp = 0 THEN 0L ELSE 1000000L * tp div (tp + fp) END AS precision_micro",
        "CASE WHEN tp + fn = 0 THEN 0L ELSE 1000000L * tp div (tp + fn) END AS recall_micro",
        "CASE WHEN 2L * tp + fp + fn = 0 THEN 0L ELSE 2000000L * tp div (2L * tp + fp + fn) END AS f1_micro",
        "CASE WHEN tp + fp + fn + tn = 0 THEN 0L ELSE 1000000L * (tp + tn) div (tp + fp + fn + tn) END AS accuracy_micro")
  }

  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 256): DataFrame = {
    val weightOf: Column => Column = b =>
      pmod(b * lit(2654435761L), lit(1997L)) - lit(998L)
    val bucketOf: Column => Column = t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    // bind the token array once — score and n_toks both reference it, and
    // HOFs get no codegen subexpression elimination (the DSIR/scorer fix)
    df.withColumn("__t", filter(tokens(col(textCol)), t => t =!= ""))
      .select(col(idCol),
        aggregate(transform(col("__t"), t => weightOf(bucketOf(t))),
          lit(0L), (acc, x) => acc + x).as("score_micro"),
        size(col("__t")).cast("long").as("n_toks"))
  }
}
