package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.{t, tFan}
import graft.operators._

/** LLM-data-pipeline operators (SURVEY.md §2.4-2.10 north-star surface):
  * dedup (exact / MinHash-LSH / SimHash / embedding-cosine), similarity
  * search (exact brute-force + LSH), text analysis, sessionization, as-of
  * join, multimodal plumbing.
  *
  * Shingling note: this corpus shares one small vocabulary across all
  * documents, so *word-set* Jaccard is degenerate (57% of all pairs above
  * 0.6). Char-5-gram shingles separate cleanly (near-dups >= 0.9, background
  * <= 0.5), which is also the realistic choice for web-scale near-dedup.
  */
object PipelineQueries {

  /** Distinct char-5-gram shingles — same index set as the DuckDB oracle's
    * `[substr(text, i, 5) FOR i IN range(1, greatest(length(text)-3, 1))]`.
    */
  private val shingleSql =
    "array_distinct(transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5)))"

  private val duckShingles =
    "list_distinct([substr(text, i, 5) FOR i IN range(1, greatest(length(text)-3, 1))])"

  /** Exact near-dup pair CTE chain for the DuckDB oracles — INVERTED-INDEX
    * form: per-pair intersection sizes come from one token self-join
    * counted per (id_a, id_b) — Σ df(g)² join rows — instead of the
    * all-pairs `list_intersect` scan (n² pairs × |s|-element lists). The
    * pair set and the DOUBLE jaccard are EXACTLY the all-pairs values
    * (`len(list_intersect(a.s, b.s))` equals the join's per-pair count;
    * both divisions are the same BIGINT operands cast to DOUBLE) —
    * verified pair-for-pair against the all-pairs form at sf0.01. This is
    * what makes the oracle side feasible at sf0.1 (~3 min vs >45 min per
    * query), closing the 10× sweep's standing all-pairs exclusion list.
    * Exposes `p` = (id_a, id_b, jac) with id_a < id_b, jac >= `thr`;
    * `docWhere` (e.g. " WHERE doc_id < 1000") restricts the corpus.
    */
  private[queries] def duckPairCtes(thr: String, docWhere: String = ""): String =
    s"""sh AS (SELECT doc_id, $duckShingles AS s FROM documents$docWhere),
       |shn AS (SELECT doc_id, len(s) AS n FROM sh),
       |tokx AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM tokx a JOIN tokx b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT id_a, id_b, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jac
       |  FROM co JOIN shn na ON na.doc_id = id_a
       |          JOIN shn nb ON nb.doc_id = id_b
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= $thr)""".stripMargin

  /** Closure LOSERS over the exact pair set as CTEs (`losers(v)`) — the
    * near-dup keep-set's oracle core, shared by the manifest family and
    * the streaming ingest-vs-store check (WarehouseQueries). Needs
    * `WITH RECURSIVE`.
    */
  private[queries] def closureLoserCtes: String =
    s"""${duckPairCtes("0.7")},
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |      UNION SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT a AS v, a AS r FROM e
       |  UNION
       |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v),
       |losers AS (SELECT v FROM reach GROUP BY v HAVING v <> min(r))""".stripMargin

  /** The nightly rolled-forward cluster artifact's dir, for consumers
    * outside this object (the streaming ingest gate reads its loser
    * table as the stream-static side).
    */
  private[queries] def compactClusterArtifactDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    materializedCompactClusterDir(s, d)

  /** The manifest KEEP-SET oracle CTEs, shared by the whole
    * q_curation_manifest family (full / incr / delta / delta2 / pack) —
    * factored like [[FullClosureOracleSql]] so the recipe cannot
    * silently fork across the copies (ADVICE r17): [[closureLoserCtes]]
    * + the 13-gram bad set against the benchmark (`benchWhere` narrows
    * the bench CTE — the delta paths freeze it to their base slice) +
    * the Gopher gate clause. Ends in `gated`; callers append their
    * final SELECT (and q_pack_manifest its `kept` CTE).
    */
  private def manifestKeepCtes(benchWhere: String = ""): String = {
    val gates = TextAnalysis.gopherGateSql("text")
      .map(_._2).mkString("\n  AND ")
    s"""${closureLoserCtes},
       |toks AS (SELECT doc_id, source,
       |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
       |  FROM documents),
       |grams AS (SELECT doc_id, source,
       |    unnest([array_to_string(list_slice(t, i, i+12), ' ')
       |            FOR i IN range(1, greatest(len(t)-11, 1))]) AS g
       |  FROM toks WHERE len(t) >= 13),
       |bench AS (SELECT DISTINCT g FROM grams
       |  WHERE source = 'src0'$benchWhere),
       |bad AS (SELECT DISTINCT doc_id FROM grams
       |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)),
       |gated AS (SELECT doc_id FROM documents WHERE $gates)""".stripMargin
  }

  /** The final keep-set SELECT the three manifest queries share. */
  private val manifestKeepSelect: String =
    """SELECT d.doc_id, d.source FROM documents d
      |WHERE d.source <> 'src0'
      |  AND d.doc_id IN (SELECT doc_id FROM gated)
      |  AND d.doc_id NOT IN (SELECT v FROM losers)
      |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY d.doc_id""".stripMargin

  private val bm25Terms = Seq("dup", "vector", "scan")

  /** Materialize the documents near-dup cluster table (MinHash-LSH
    * pairs → [[Dedup.resolveClusters]]) once per corpus version via
    * [[ArtifactCache]] — at 100 TB the cluster table is a tiny id-pair
    * table computed by one nightly job and anti-joined by every
    * downstream consumer.
    */
  private def materializedClusterDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "cluster", Seq("_SUCCESS")) { dir =>
      val docs = tFan(s, d, "documents")
      val pairs = Dedup.minHashPairsHashed(docs, "doc_id",
        Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
      Dedup.resolveClusters(pairs, "id_a", "id_b")
        .write.mode("overwrite").parquet(dir)
    }

  /** The full-corpus near-dup cluster table as a recursive closure over
    * the exact pair set — shared by q_dedup_clusters_incr (incremental
    * merge == full recompute, the frozen-LSH law) and
    * q_dedup_clusters_compact (the merged table rolled forward to
    * storage reads back identically).
    */
  private lazy val FullClosureOracleSql: Option[String] =
    Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
            |e AS (SELECT id_a AS a, id_b AS b FROM p
            |      UNION SELECT id_b, id_a FROM p),
            |reach AS (
            |  SELECT a AS v, a AS r FROM e
            |  UNION
            |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v)
            |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
            |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)

  /** The BASE-corpus maintenance artifact for the incremental query
    * (`q_dedup_clusters_incr`): doc_id % 4 != 3 stands in for "the corpus
    * as of the last nightly build". TWO tables are stored — `clusters/`
    * (the resolved label table [[Dedup.updateClusters]] merges into) and
    * `bands/` (the corpus's banded MinHash signatures,
    * [[Dedup.bandedSignatures]] — `bands` longs per doc), so the nightly
    * append never re-hashes the corpus: candidate generation joins the
    * increment's bands against the stored table, and verification reads
    * only candidate old docs. Both subdirs `_SUCCESS`-gated — a crash
    * between the writes rebuilds both.
    */
  private def materializedBaseClusterDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "clusterbase",
        Seq("clusters/_SUCCESS", "bands/_SUCCESS")) { dir =>
      Dedup.buildClusterArtifact(
        t(s, d, "documents").filter(col("doc_id") % 4 =!= 3),
        "doc_id", Dedup.shinglesHashed(col("text"), 5), dir,
        threshold = 0.7, k = 126, bands = 21)
    }

  /** The CURATION MANIFEST (`q_curation_manifest`): the whole data
    * recipe — Gopher quality gates ∧ near-dup cluster losers dropped ∧
    * benchmark decontamination — materialized once per corpus version
    * as a kept-ids table. This is the artifact a training run actually
    * consumes: curation logic executes in one nightly job, and every
    * trainer/shuffler joins the manifest instead of re-running gates,
    * LSH, and gram joins. All three stages are id-set filters, so their
    * composition order is immaterial and each stage's semantics stays
    * exactly its standalone oracled query's (q_gopher_rules,
    * q_dedup_apply, q_decontaminate — CurationSpec pins the manifest as
    * the intersection of the three keep-sets).
    */
  private def materializedManifestDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "manifest", Seq("_SUCCESS"))(
      buildManifest(s, d, materializedClusterDir(s, d), _))

  /** The manifest under the APPEND lifecycle
    * (`q_curation_manifest_incr`): identical composition to
    * [[materializedManifestDir]], but the near-dup stage reads the
    * INCREMENTALLY-MAINTAINED cluster table
    * ([[materializedCompactClusterDir]] — base build + updateClusters
    * merge + roll-forward) instead of the full-rebuild one. Gates and
    * decontamination are corpus-append-commutative per doc (gates are
    * per-row; the bad set depends only on the static benchmark's
    * grams), and incremental == full for the cluster table is the
    * frozen-LSH law — so the whole recipe survives a nightly append
    * with NO full recompute anywhere, and the oracle is unchanged.
    */
  private def materializedManifestIncrDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "manifestincr", Seq("_SUCCESS"))(
      buildManifest(s, d, materializedCompactClusterDir(s, d) + "/clusters", _))

  /** The manifest recipe over the whole corpus, its near-dup stage
    * reading the loser set of the cluster table at `clusterDir`: the
    * ONE body behind the full-rebuild and the incremental manifest.
    */
  private def buildManifest(s: org.apache.spark.sql.SparkSession, d: String,
      clusterDir: String, dir: String): Unit = {
    val docs = tFan(s, d, "documents")
    val gated = docs.filter(col("source") =!= "src0").filter(gopherGate)
    val deduped = gated.join(losersOf(s, clusterDir), Seq("doc_id"), "left_anti")
    Decontaminate.decontaminate(deduped,
        docs.filter(col("source") === "src0"), "doc_id", "text", n = 13)
      .select("doc_id", "source")
      .write.mode("overwrite").parquet(dir)
  }

  /** All Gopher quality gates ANDed: the manifest recipe's keep rule. */
  private def gopherGate: org.apache.spark.sql.Column =
    TextAnalysis.gopherGates(col("text")).map(_._2).reduce(_ && _)

  /** The doc ids a cluster table drops: every member that is not its
    * cluster's representative.
    */
  private def losersOf(s: org.apache.spark.sql.SparkSession,
      clusterDir: String): org.apache.spark.sql.DataFrame =
    Tables.parquet(s, clusterDir)
      .filter(col("v") =!= col("cluster_rep")).select(col("v").as("doc_id"))

  /** The BASE-NIGHT manifest artifact for the delta maintenance path
    * (`q_curation_manifest_delta`): `kept/` = the recipe's keep-set over
    * the base corpus under the base cluster table, and `benchgrams/` =
    * the FROZEN benchmark's distinct 13-gram hashes (8 bytes each — the
    * decontamination-list artifact real pipelines ship). The benchmark
    * is frozen at recipe-definition night (src0 ∩ base), the standard
    * decontam convention: an eval set does not grow with the corpus.
    */
  private def materializedBaseManifestDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "manifestbase",
        Seq("kept/_SUCCESS", "benchgrams/_SUCCESS")) { dir =>
      buildBaseManifest(s, t(s, d, "documents").filter(col("doc_id") % 4 =!= 3),
        materializedBaseClusterDir(s, d) + "/clusters", dir)
    }

  /** Build the night-0 manifest artifact (frozen `benchgrams/` + the
    * base `kept/` table) from `base` under the `clusterDir` loser table
    * — the ONE builder behind the single-night delta
    * ([[materializedBaseManifestDir]]) and the two-night cycle
    * ([[materializedDelta2ManifestDir]]).
    */
  private def buildBaseManifest(s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame, clusterDir: String,
      dir: String): Unit = {
    val bench = base.filter(col("source") === "src0")
    bench.select(explode(
        Decontaminate.ngramHashes(col("text"), 13)).as("g"))
      .distinct()
      .write.mode("overwrite").parquet(dir + "/benchgrams")
    val gated = base.filter(col("source") =!= "src0").filter(gopherGate)
    val deduped = gated.join(losersOf(s, clusterDir), Seq("doc_id"), "left_anti")
    val contaminated = deduped
      .select(col("doc_id"), explode(
        Decontaminate.ngramHashes(col("text"), 13)).as("g"))
      .join(Tables.parquet(s, dir + "/benchgrams"), "g")
      .select("doc_id").distinct()
    deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
      .write.mode("overwrite").parquet(dir + "/kept")
  }

  /** Roll a stored kept-set ONE NIGHT forward into `outDir` (the delta
    * identity — see [[materializedDeltaManifestDir]]'s doc): stored kept
    * minus newly-losing (the diff of the two nights' loser tables), plus
    * the increment's survivors under gates + the FROZEN gram store +
    * the merged loser table. Reads only id tables, the increment, and
    * the frozen grams — never the base corpus. The SAME body serves
    * every night, which is what lets the delta path cycle.
    */
  private[graft] def rollManifestDelta(s: org.apache.spark.sql.SparkSession,
      keptDir: String, benchGramsDir: String, losersNewDir: String,
      losersOldDir: String, incr: org.apache.spark.sql.DataFrame,
      outDir: String): Unit = {
    val newlyLosing = losersOf(s, losersNewDir)
      .join(losersOf(s, losersOldDir), Seq("doc_id"), "left_anti")
    val keptOld = Tables.parquet(s, keptDir)
      .join(newlyLosing, Seq("doc_id"), "left_anti")
    val incrGated = incr.filter(col("source") =!= "src0").filter(gopherGate)
    val contaminated = incrGated
      .select(col("doc_id"), explode(
        Decontaminate.ngramHashes(col("text"), 13)).as("g"))
      .join(Tables.parquet(s, benchGramsDir), "g")
      .select("doc_id").distinct()
    val newKept = incrGated.select("doc_id", "source")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(losersOf(s, losersNewDir), Seq("doc_id"), "left_anti")
    keptOld.unionAll(newKept)
      .write.mode("overwrite").parquet(outDir)
  }

  /** The delta manifest CYCLED over two append nights
    * (`q_curation_manifest_delta2`): night-0 artifacts under the
    * three-night split (base kept-set + frozen benchgrams, bench = src0
    * ∩ night-0), then TWO successive [[rollManifestDelta]] nights — each
    * reading the PREVIOUS night's kept table and the per-night loser
    * diff from the cluster cycle's rungs. Verdicts roll forward twice;
    * the result is row-identical to the frozen-bench recipe from
    * scratch (CurationSpec), pinning that the O(increment) nightly is
    * sound at ANY depth, not just for one append.
    */
  private def materializedDelta2ManifestDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val docs = t(s, d, "documents")
    val (clBase, clN1, clN2) = clusterCycleDirs(s, d)
    val base = ArtifactCache.dir(s, d, "documents", "manifestbase2",
        Seq("kept/_SUCCESS", "benchgrams/_SUCCESS")) { dir =>
      buildBaseManifest(s, nightSlice(docs, "doc_id", 0),
        clBase + "/clusters", dir)
    }
    val n1 = ArtifactCache.dir(s, d, "documents", "manifestd1",
        Seq("_SUCCESS")) { dir =>
      rollManifestDelta(s, base + "/kept", base + "/benchgrams",
        clN1 + "/clusters", clBase + "/clusters",
        nightSlice(docs, "doc_id", 1), dir)
    }
    ArtifactCache.dir(s, d, "documents", "manifestd2", Seq("_SUCCESS")) { dir =>
      rollManifestDelta(s, n1, base + "/benchgrams",
        clN2 + "/clusters", clN1 + "/clusters",
        nightSlice(docs, "doc_id", 2), dir)
    }
  }

  /** The DELTA manifest (`q_curation_manifest_delta`) — append-night
    * maintenance whose cost is ∝ the INCREMENT, never the corpus
    * (q_curation_manifest_incr still re-scans every document for gates
    * and decontamination; at 100 TB that is the last corpus-proportional
    * term in the nightly). Per-doc verdicts are append-stable — gates
    * depend only on the doc's own text, contamination only on the
    * FROZEN benchmark gram store — and loser status is MONOTONE under
    * cluster merges (a merge can only lower a cluster's min id, so a
    * base loser never becomes a rep). Hence the new manifest is exactly:
    *
    *   (stored base kept-set  ANTI-JOIN  newly-losing docs)
    *   UNION (increment docs passing gates ∧ frozen-bench decontam
    *          ∧ not in the merged loser set)
    *
    * where newly-losing = losers(merged clusters) \ losers(base
    * clusters) — a diff of two tiny id tables. Everything the append
    * night reads is an id table, the increment, or the frozen gram
    * store; the base corpus is never re-scanned. Row-identical to
    * recomputing the frozen-bench recipe from scratch (CurationSpec).
    */
  private def materializedDeltaManifestDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "manifestdelta", Seq("_SUCCESS")) { dir =>
      val baseArt = materializedBaseManifestDir(s, d)
      rollManifestDelta(s, baseArt + "/kept", baseArt + "/benchgrams",
        materializedCompactClusterDir(s, d) + "/clusters",
        materializedBaseClusterDir(s, d) + "/clusters",
        t(s, d, "documents").filter(col("doc_id") % 4 === 3), dir)
    }

  /** The incremental merge ROLLED FORWARD to storage
    * (`q_dedup_clusters_compact`) — the third verb of the cluster-table
    * lifecycle, mirroring the IVF index's build → append → compact: a
    * nightly cycle cannot leave its merge result in memory, it must
    * become the artifact the NEXT append reads. Writes both tables the
    * maintenance protocol needs: `clusters/` = [[Dedup.updateClusters]]
    * over the stored base + the increment's LSH pairs (exactly
    * q_dedup_clusters_incr's computation), and `bands/` = the base band
    * store UNION the increment's banded signatures — the MinHash
    * functions are frozen (seeded), so base ∪ increment bands ==
    * re-banding the whole corpus (DedupSpec pins it), and tomorrow's
    * append starts from this dir as its base.
    */
  private def materializedCompactClusterDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "clustercompact",
        Seq("clusters/_SUCCESS", "bands/_SUCCESS")) { dir =>
      val docs = t(s, d, "documents")
      Dedup.rollClusterArtifact(materializedBaseClusterDir(s, d),
        docs.filter(col("doc_id") % 4 =!= 3),
        docs.filter(col("doc_id") % 4 === 3),
        "doc_id", Dedup.shinglesHashed(col("text"), 5), dir,
        threshold = 0.7, k = 126, bands = 21)
    }

  /** The cluster-table CYCLE (`q_dedup_clusters_cycle`), the dedup twin
    * of the IVF cycle: night-0 base build (doc_id % 4 ∈ {0, 1}), then
    * TWO successive nightly rolls through [[rollClusterArtifact]] —
    * night 1 merges id % 4 == 2, its output artifact becomes night 2's
    * base, night 2 merges id % 4 == 3. Frozen MinHash seeds + the
    * star-replay merge mean roll∘roll == one full rebuild over the
    * whole corpus (the unchanged FullClosure oracle pins it), and each
    * night's cost stays ∝ its increment (IncrSoak's ladder).
    */
  private def materializedClusterNight2Dir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    clusterCycleDirs(s, d)._3

  /** The cycle's three cluster artifacts (night-0 base, night-1 roll,
    * night-2 roll), each cached under its own tag — the delta-manifest
    * cycle reads the per-night loser DIFFS, so it needs every rung.
    */
  private def clusterCycleDirs(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String, String) = {
    val docs = t(s, d, "documents")
    val sh = Dedup.shinglesHashed(col("text"), 5)
    val base2 = ArtifactCache.dir(s, d, "documents", "clbase2",
        Seq("clusters/_SUCCESS", "bands/_SUCCESS")) { dir =>
      Dedup.buildClusterArtifact(nightSlice(docs, "doc_id", 0),
        "doc_id", sh, dir, threshold = 0.7, k = 126, bands = 21)
    }
    val night1 = ArtifactCache.dir(s, d, "documents", "clnight1",
        Seq("clusters/_SUCCESS", "bands/_SUCCESS")) { dir =>
      Dedup.rollClusterArtifact(base2,
        nightSlice(docs, "doc_id", 0), nightSlice(docs, "doc_id", 1),
        "doc_id", sh, dir, threshold = 0.7, k = 126, bands = 21)
    }
    val night2 = ArtifactCache.dir(s, d, "documents", "clnight2",
        Seq("clusters/_SUCCESS", "bands/_SUCCESS")) { dir =>
      Dedup.rollClusterArtifact(night1,
        docs.filter(col("doc_id") % 4 =!= 3), nightSlice(docs, "doc_id", 2),
        "doc_id", sh, dir, threshold = 0.7, k = 126, bands = 21)
    }
    (base2, night1, night2)
  }

  /** The full-chain IVF oracle (16-vector seed → exact-micro Lloyd step →
    * float-cast centroids → argmax cell assignment → top-4 probe → cosine
    * ranks), bit-mirrored in DuckDB via OracleVec. Shared by
    * q_embed_knn_ivf (chain in-query) and q_ann_from_index (stored-index
    * query) — identical ranks by construction.
    *
    * `trainWhere` restricts the TRAINING corpus (seed + Lloyd
    * accumulation) — empty for the full-corpus chain; the
    * q_ann_index_incr variant trains on the base slice only (the frozen
    * quantizer a nightly append assigns under), while assignment, probe,
    * and ranks always run over the whole corpus.
    */
  private def ivfOracleSqlFor(trainWhere: String): String =
    s"""WITH ${ivfOracleCtesFor(trainWhere)}
       |SELECT q_id, c_id, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** The chain above as a bare CTE block (ending in `r` = the ranked
    * candidates), so evaluation oracles (q_ann_recall) can extend it
    * with further CTEs instead of duplicating the 25-line chain.
    * `queryWhere` picks the query-vector set (default: the five
    * smallest ids every serving query uses; the recall-proxy trigger
    * passes the md5 sample).
    */
  private def ivfOracleCtesFor(trainWhere: String,
      queryWhere: String = "e.vec_id < 5"): String = {
    def cos(a: String, b: String) = OracleVec.cosSql(a, b)
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |eb AS (SELECT vec_id, v FROM e$trainWhere),
       |seed AS (SELECT vec_id AS cell, v AS sv FROM eb ORDER BY vec_id LIMIT 16),
       |asg AS (SELECT eb.vec_id, eb.v, seed.cell, ${cos("eb.v", "seed.sv")} AS sim FROM eb, seed),
       |a1 AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cell DESC) AS rn FROM asg),
       |av AS (SELECT vec_id, v, cell FROM a1 WHERE rn = 1),
       |mo AS (SELECT cell, r.range AS i,
       |    CAST(sum(CAST(floor(v[CAST(r.range AS INT) + 1] * 1000000.0) AS BIGINT)) AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM av, range(64) r GROUP BY cell, r.range),
       |cent AS (SELECT cell, list(CAST(CAST(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS REAL) AS DOUBLE) ORDER BY i) AS cv
       |  FROM mo GROUP BY cell),
       |casg AS (SELECT e.vec_id AS c_id, e.v AS cvv, cent.cell, ${cos("e.v", "cent.cv")} AS sim FROM e, cent),
       |c1 AS (SELECT c_id, cvv, cell, row_number() OVER (PARTITION BY c_id
       |    ORDER BY sim DESC, cell DESC) AS rn FROM casg),
       |corp AS (SELECT c_id, cvv, cell FROM c1 WHERE rn = 1),
       |qasg AS (SELECT e.vec_id AS q_id, e.v AS qv, cent.cell, ${cos("e.v", "cent.cv")} AS sim
       |  FROM e, cent WHERE $queryWhere),
       |q1 AS (SELECT q_id, qv, cell, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cell DESC) AS rn FROM qasg),
       |probe AS (SELECT q_id, qv, cell, rn AS pr FROM q1 WHERE rn <= 4),
       |cand AS (SELECT probe.q_id, probe.qv, probe.pr, corp.c_id, corp.cvv
       |  FROM probe JOIN corp USING (cell) WHERE corp.c_id <> probe.q_id),
       |r AS (SELECT q_id, c_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY ${cos("qv", "cvv")} DESC, c_id) AS BIGINT) AS rn FROM cand)""".stripMargin
  }

  private val IvfOracleSql: Option[String] = Some(ivfOracleSqlFor(""))

  /** The full IVF-PQ chain oracle — three unrolled exact-micro Lloyd
    * iterations, euclidean coarse cells + residuals, residual-codebook
    * training, per-subspace encoding, 3-cell probes, per-(query, cell)
    * residual LUTs, ordered ADC fold (see q_embed_knn_ivfpq's comment).
    * Shared by q_embed_knn_ivfpq (chain in-query) and q_ann_from_index_pq
    * (stored compressed index) — identical ranks by construction.
    *
    * `trainWhere` restricts the TRAINING corpus — coarse seeds + Lloyd
    * iterations (`eb`) and the residual-codebook chain (`residb`) — to
    * the base slice the q_ann_index_incr_pq append freezes its model on;
    * assignment, encoding, probes, and ranks always run over the whole
    * corpus. Empty for the full-corpus chain (eb == e, residb == resid).
    */
  private def ivfPqOracleSqlFor(trainWhere: String): String =
    s"""WITH ${ivfPqOracleCtesFor(trainWhere)}
       |SELECT q_id, c_id, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** The chain above as a bare CTE block (ending in `r` = the ADC-ranked
    * candidates), so evaluation oracles (q_ann_recall_pq) can extend it.
    */
  private def ivfPqOracleCtesFor(trainWhere: String): String = {
    import OracleVec.{cosSql => cos, euclidSql => eu, sqDiffSql => sq}
        def sl(v: String, s: String) =
          s"list_slice($v, CAST($s AS INT) * 8 + 1, CAST($s AS INT) * 8 + 8)"
        def sub(a: String, b: String) =
          s"list_transform(list_zip($a, $b), zz -> zz[1] - zz[2])"
        def lloyd(j: Int): String = {
          val p = s"cent${j - 1}"
          s"""asg$j AS (SELECT eb.vec_id, eb.v, c.cell, ${cos("eb.v", "c.cv")} AS sim FROM eb, $p c),
             |a$j AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
             |    ORDER BY sim DESC, cell DESC) AS rn FROM asg$j),
             |av$j AS (SELECT vec_id, v, cell FROM a$j WHERE rn = 1),
             |mo$j AS (SELECT cell, r.range AS i,
             |    CAST(sum(CAST(floor(v[CAST(r.range AS INT) + 1] * 1000000.0) AS BIGINT)) AS BIGINT) AS s, count(*) AS n
             |  FROM av$j, range(64) r GROUP BY cell, r.range),
             |cand$j AS (SELECT cell, list(CAST(CAST(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS REAL) AS DOUBLE) ORDER BY i) AS cv
             |  FROM mo$j GROUP BY cell),
             |cent$j AS (SELECT p.cell, coalesce(c.cv, p.cv) AS cv FROM $p p LEFT JOIN cand$j c ON c.cell = p.cell)""".stripMargin
        }
        s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |eb AS (SELECT vec_id, v FROM e$trainWhere),
           |cent0 AS (SELECT vec_id AS cell, v AS cv FROM eb ORDER BY vec_id LIMIT 8),
           |${lloyd(1)},
           |${lloyd(2)},
           |${lloyd(3)},
           |casg AS (SELECT e.vec_id, e.v, c.cell, ${eu("e.v", "c.cv")} AS d FROM e, cent3 c),
           |c1 AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY d, cell) AS rn FROM casg),
           |cell_of AS (SELECT vec_id, v, cell FROM c1 WHERE rn = 1),
           |resid AS (SELECT co.vec_id, co.cell, ${sub("co.v", "c.cv")} AS rv
           |  FROM cell_of co JOIN cent3 c ON c.cell = co.cell),
           |residb AS (SELECT vec_id, cell, rv FROM resid$trainWhere),
           |sdR AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, rv AS sv
           |  FROM (SELECT vec_id, rv FROM residb ORDER BY vec_id LIMIT 16)),
           |asgR AS (SELECT residb.vec_id, r.range AS s, sdR.cell,
           |    ${eu(sl("residb.rv", "r.range"), sl("sdR.sv", "r.range"))} AS dist
           |  FROM residb, range(8) r, sdR),
           |aR AS (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s
           |    ORDER BY dist, cell) AS rn FROM asgR),
           |avR AS (SELECT vec_id, s, cell FROM aR WHERE rn = 1),
           |moR AS (SELECT avR.s, avR.cell, r2.range AS i,
           |    CAST(sum(CAST(floor(residb.rv[CAST(avR.s AS INT) * 8 + CAST(r2.range AS INT) + 1] * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
           |    count(*) AS n
           |  FROM avR JOIN residb USING (vec_id), range(8) r2 GROUP BY avR.s, avR.cell, r2.range),
           |bkR AS (SELECT s, cell, list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY i) AS bc
           |  FROM moR GROUP BY s, cell),
           |gridR AS (SELECT sdR.cell, r.range AS s, sdR.sv FROM sdR, range(8) r),
           |bkall AS (SELECT gridR.s, gridR.cell, coalesce(bkR.bc, ${sl("gridR.sv", "gridR.s")}) AS bc
           |  FROM gridR LEFT JOIN bkR ON bkR.s = gridR.s AND bkR.cell = gridR.cell),
           |encA AS (SELECT resid.vec_id, resid.cell AS ccell, b.s, b.cell AS codeword,
           |    ${eu(sl("resid.rv", "b.s"), "b.bc")} AS d
           |  FROM resid, bkall b),
           |enc1 AS (SELECT vec_id, ccell, s, codeword, row_number() OVER (PARTITION BY vec_id, s
           |    ORDER BY d, codeword) AS rn FROM encA),
           |codes AS (SELECT vec_id AS c_id, ccell AS cell, s, codeword AS code FROM enc1 WHERE rn = 1),
           |qd AS (SELECT e.vec_id AS q_id, e.v AS qv, c.cell, c.cv, ${eu("e.v", "c.cv")} AS d
           |  FROM e, cent3 c WHERE e.vec_id < 5),
           |q1 AS (SELECT q_id, qv, cell, cv, row_number() OVER (PARTITION BY q_id
           |    ORDER BY d, cell) AS rn FROM qd),
           |probe AS (SELECT q_id, cell, rn AS pr, ${sub("qv", "cv")} AS q_resid FROM q1 WHERE rn <= 3),
           |lut AS (SELECT p.q_id, p.cell, p.pr, b.s, b.cell AS codeword,
           |    ${sq(sl("p.q_resid", "b.s"), "b.bc")} AS ld
           |  FROM probe p, bkall b),
           |parts AS (SELECT lut.q_id, codes.c_id, lut.pr, lut.s, lut.ld
           |  FROM codes JOIN lut ON lut.cell = codes.cell AND lut.s = codes.s AND lut.codeword = codes.code
           |  WHERE codes.c_id <> lut.q_id),
           |adc AS (SELECT q_id, c_id, min(pr) AS pr,
           |    list_reduce(list(ld ORDER BY s), (acc, el) -> acc + el) AS dist
           |  FROM parts GROUP BY q_id, c_id),
           |r AS (SELECT q_id, c_id, dist, CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY dist, c_id) AS BIGINT) AS rn FROM adc)""".stripMargin
  }

  private val IvfPqOracleSql: Option[String] = Some(ivfPqOracleSqlFor(""))

  /** Build the IVF-Flat layout (trained centroids + cell-partitioned
    * postings) from `corpus` into `dir` — the ONE builder behind the
    * nightly build ([[materializedIvfIndexDir]]) and the registry's
    * refreshed v1 ([[materializedIvfRegistryDir]]), so "refreshed ==
    * rebuilt from scratch" holds by construction: 16-smallest-id seeds, one
    * exact-micro Lloyd step (q_embed_knn_ivf's training), float-cast
    * centroids, postings PARTITIONED BY cell so a query's probe set
    * prunes unread partitions at the listing.
    */
  private def buildIvfFlat(s: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val seed = Similarity.centroidRows(
      corpus.filter(col("vec_id") < 16), "vec_id", "embedding")
    val trained = Similarity.kmeansStep(corpus, "vec_id", "embedding", seed)
      .select(col("cell"),
        expr("transform(centroid, x -> cast(x as float))").as("centroid"))
    trained.write.mode("overwrite").parquet(dir + "/centroids")
    val cents = Similarity.centroidRows(
      Tables.parquet(s, dir + "/centroids"), "cell", "centroid")
    Similarity.ivfAssignCells(corpus, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/postings")
  }

  /** Materialize the trained IVF-Flat index over `embeddings` once per
    * corpus version via [[ArtifactCache]] ([[buildIvfFlat]]'s layout).
    * Guard is BOTH subdirs' `_SUCCESS` markers — a crash between the two
    * writes rebuilds both.
    */
  private def materializedIvfIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "embeddings", "ivf",
        Seq("centroids/_SUCCESS", "postings/_SUCCESS")) { dir =>
      buildIvfFlat(s, t(s, d, "embeddings"), dir)
    }

  /** Cell occupancy of a stored cell-partitioned layout — per cell
    * (cell, n_vecs, share_micro, ratio_mean_micro): its vector count,
    * its corpus share, and its fill ratio vs fair share (n · k / total)
    * as exact integer micros. The q_ann_refresh_trigger readout and,
    * collapsed to its max ratio, the trigger scalar
    * ([[hottestCellRatioMicro]]). Bounded: the per-cell histogram is
    * ≤ k rows (k = trained cell count, from the centroid table),
    * collected once; BigInt keeps n·k·1e6 exact past Long at extreme
    * cell counts without changing the rounding of the in-range values
    * (ADVICE r18), so the threshold compare is engine- and
    * parallelism-stable.
    */
  private def cellOccupancy(s: org.apache.spark.sql.SparkSession,
      idxDir: String, sub: String): Seq[(Long, Long, Long, Long)] = {
    val k = Tables.parquet(s, idxDir + "/centroids").count()
    val counts = Tables.parquet(s, s"$idxDir/$sub")
      .groupBy(col("cell").cast("long")).agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val total = counts.map(_._2).sum
    counts.map { case (cell, n) =>
      (cell, n, (BigInt(n) * 1000000 / total).toLong,
        (BigInt(n) * k * 1000000 / total).toLong)
    }
  }

  /** Hottest-cell fill ratio (vs fair share, in micros) of a stored
    * cell-partitioned layout — the REFRESH TRIGGER scalar: a quantizer
    * trained on yesterday's corpus drifts as appends skew the cells, and
    * max_cell · k / total is the standard imbalance alarm. An empty
    * store reads 0 (nothing to rebalance).
    */
  private def hottestCellRatioMicro(s: org.apache.spark.sql.SparkSession,
      idxDir: String, sub: String): Long = {
    val occupancy = cellOccupancy(s, idxDir, sub)
    if (occupancy.isEmpty) 0L else occupancy.map(_._4).max
  }

  /** Fixed size of the recall-proxy probe set. A COUNT, not a corpus
    * fraction (VERDICT r19 "What's wrong #1"): a fraction makes the
    * trigger itself an O(frac·N²) brute-force job with an N-scaled
    * broadcast at 100×; a fixed K keeps the exact pass at O(K·N) with a
    * constant-size broadcast no matter how large the store grows.
    */
  private val RecallProbeK = 48

  /** Deterministic md5-ordered probe set for the recall-proxy trigger —
    * the first [[RecallProbeK]] vectors by (md5(vec_id), vec_id): a
    * pseudo-random but engine-portable pick (Spark and DuckDB both
    * order lowercase-hex strings bytewise), the "held-out probe set" a
    * production store replays after every append. orderBy+limit plans
    * as TakeOrderedAndProject — per-partition top-K, never a full sort
    * — so selecting the probe set costs one bounded scan. The SQL twin
    * is [[sampleQWhereSql]]; SimilaritySpec pins |probe| == K
    * independent of corpus size.
    *
    * The K ids are resolved to a LITERAL `isin` filter (one bounded
    * collect — exactly K longs — the persisted probe list a production
    * store would replay): a bare limit subquery is not a selective
    * predicate, so joins downstream of it lose dynamic partition
    * pruning; the literal IN restores DPP on the cell-partitioned
    * postings/codes read (EXPLAINS.md q_ann_refresh_recall).
    */
  private def probeSet(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ids = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(RecallProbeK)
      .select("vec_id").collect().map(_.get(0)) // bounded: K probe ids
    emb.filter(col("vec_id").isin(ids: _*))
  }

  private def sampleQWhereSql(id: String): String =
    s"$id IN (SELECT vec_id FROM embeddings " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $RecallProbeK)"

  /** Sampled recall-proxy (micros) of a stored IVF-Flat store: recall@10
    * of the SERVED index vs exact brute-force cosine over the md5 query
    * sample, aggregated as Σhits·1e6/(10·|sample|). Bounded: |sample| ==
    * [[RecallProbeK]] queries replayed against a cell-pruned index read
    * + one fixed-size-broadcast brute-force pass; exact division, so the
    * threshold compare is engine- and parallelism-stable. This is the
    * SECOND refresh signal: occupancy skew misses a drifted corpus whose
    * cells stay balanced while the centroids are uniformly wrong
    * (VERDICT r18 "What's wrong #2") — recall decay is the alarm that
    * catches it.
    */
  private def sampledRecallMicro(s: org.apache.spark.sql.SparkSession,
      d: String, idxDir: String): Long =
    probeRecallMicro(s, d)(queries => Similarity.ivfKnnFromIndex(
      Tables.parquet(s, idxDir + "/postings"), queries,
      "vec_id", "embedding", k = 10,
      Tables.parquet(s, idxDir + "/centroids"), "cell", "centroid",
      nProbe = 4))

  /** [[sampledRecallMicro]]'s compressed-store twin: the same md5 probe
    * set replayed through the stored PQ model's ADC serving path.
    */
  private def sampledRecallPqMicro(s: org.apache.spark.sql.SparkSession,
      d: String, idxDir: String): Long =
    probeRecallMicro(s, d) { queries =>
      val (cents, books) = readIvfPqModel(s, idxDir)
      Pq.ivfPqTopK(Tables.parquet(s, idxDir + "/codes"), queries,
        "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
    }

  /** Σhits·1e6/slots of `serve`'s (q_id, c_id) top-10 answers for the
    * [[probeSet]] against exact brute-force top-10 (1e6 on an empty
    * probe set): the hits/slots readout both recall proxies share.
    */
  private def probeRecallMicro(s: org.apache.spark.sql.SparkSession,
      d: String)(serve: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Long = {
    val emb = t(s, d, "embeddings")
    val queries = probeSet(emb)
    val approx = serve(queries)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    val agg = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
      .select("q_id", "c_id")
      .join(approx, Seq("q_id", "c_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("slots"))
      .collect()(0) // one scalar row — the decision input
    if (agg.getLong(1) == 0L) 1000000L
    else agg.getLong(0) * 1000000L / agg.getLong(1)
  }

  /** The refresh DECISION — fires on EITHER drift signal: occupancy skew
    * (hottest cell over `spark.graft.ann.refreshFactorMicro` micros of
    * fair share) OR recall decay (the sampled recall-proxy under
    * `spark.graft.ann.refreshRecallMicro`). Defaults: factor 0 forces
    * the refresh (the registered queries' oracle prices the retrain
    * path); recall floor 0 disables the second signal, so the proxy's
    * extra scan is only paid by deployments that opt in — and a skew
    * check that already fired never pays it either (short-circuit).
    */
  private def ivfNeedsRefresh(s: org.apache.spark.sql.SparkSession,
      d: String, idxDir: String, sub: String,
      recallOf: String => Long): Boolean = {
    val factor = s.conf.getOption("spark.graft.ann.refreshFactorMicro")
      .map(_.toLong).getOrElse(0L)
    if (hottestCellRatioMicro(s, idxDir, sub) > factor) true
    else {
      val floor = s.conf.getOption("spark.graft.ann.refreshRecallMicro")
        .map(_.toLong).getOrElse(0L)
      floor > 0L && recallOf(idxDir) < floor
    }
  }

  /** Registry artifact tag keyed on the EFFECTIVE values of the gate
    * confs its staged refresh decision reads (ADVICE r19): the staged
    * chain commits the trip/no-trip decision into the marker-protected
    * on-disk artifact at first-build time, so a registry built while a
    * gate is pinned (a spec's frozen leg, an operator probing the
    * un-tripped path) must land in a DIFFERENT artifact than the
    * default-conf registry — otherwise CURRENT stays v0 forever while
    * every default-conf consumer (Verify's oracles above all) prices
    * the retrained v1. Gates at their defaults — set-to-default and
    * unset alike — keep the canonical bare tag, so Verify's pinned
    * defaults, the bench, and the specs all share one artifact.
    */
  private def gatedTag(s: org.apache.spark.sql.SparkSession, base: String,
      gates: (String, String)*): String = {
    val eff = gates.map { case (k, dflt) =>
      s.conf.getOption(k).getOrElse(dflt) }
    if (eff == gates.map(_._2)) base
    else {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(eff.mkString("|").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      s"${base}_g$h"
    }
  }

  /** [[gatedTag]] pairs for the ANN registries (shared trigger:
    * [[ivfNeedsRefresh]] reads both signals' confs). */
  private def annGates: Seq[(String, String)] = Seq(
    "spark.graft.ann.refreshFactorMicro" -> "0",
    "spark.graft.ann.refreshRecallMicro" -> "0")

  /** The IVF-Flat [[ArtifactCache.registry]] (`q_ann_refresh`,
    * `q_ann_serve_current`, `q_ann_registry_versions`) — the model
    * REFRESH of a store that only appends: every nightly append is pinned
    * under the FROZEN base-trained quantizer, and recall decays as the
    * corpus outgrows the base centroids. v0 = the frozen append-only
    * store ([[materializedIvfIncrIndexDir]]) compacted ([[compactIvf]] —
    * pure I/O, no re-assignment); trips = [[ivfNeedsRefresh]] on v0;
    * v1 = the full-corpus rebuild ([[buildIvfFlat]], the shared builder,
    * so refreshed == built-from-scratch and the oracle is the
    * unrestricted full-corpus IVF chain).
    */
  private[graft] def materializedIvfRegistryDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.registry(s, d, "embeddings",
        gatedTag(s, "ivfreg", annGates: _*))(
      snapshot = compactIvf(s, materializedIvfIncrIndexDir(s, d), _),
      trips = ivfNeedsRefresh(s, d, _, "postings", sampledRecallMicro(s, d, _)),
      rebuild = buildIvfFlat(s, t(s, d, "embeddings"), _))

  /** q_ann_refresh / q_ann_serve_current: top-10 neighbours of the first
    * five vectors from the IVF-Flat registry's CURRENT version.
    */
  private def serveIvfCurrent(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val reg = materializedIvfRegistryDir(s, d)
    val idx = s"$reg/${ArtifactCache.current(s, reg)}"
    Similarity.ivfKnnFromIndex(
        Tables.parquet(s, idx + "/postings"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10,
        Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
        nProbe = 4)
      .select("q_id", "c_id", "rn")
      .orderBy("q_id", "rn")
  }

  /** Night slices of the CYCLE simulation: the corpus arrives over three
    * nights — night 0 (the base build, id % 4 ∈ {0, 1}), night 1
    * (id % 4 == 2), night 2 (id % 4 == 3).
    */
  private[graft] def nightSlice(df: org.apache.spark.sql.DataFrame,
      idCol: String, night: Int): org.apache.spark.sql.DataFrame =
    if (night == 0) df.filter(col(idCol) % 4 < 2)
    else df.filter(col(idCol) % 4 === (night + 1))

  /** The IVF store under REPEATED appends (append → append,
    * `q_ann_index_nights`): the quantizer is trained once on the night-0
    * base and frozen; every night — including the base encode — lands
    * through the SAME append stage, its generation number computed by
    * [[ArtifactCache.nextGen]] instead of hard-coded, so this code
    * serves night 1 on a fresh store and night N on an append-only one.
    */
  private def materializedIvfNightsDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.staged(s, d, "embeddings", "ivfnights", Seq(
      "centroids/_SUCCESS" ->
        (trainFrozenIvf(nightSlice(t(s, d, "embeddings"), "vec_id", 0), _)),
      "postings/gen=0/_SUCCESS" -> appendIvfNight(s, d, 0),
      "postings/gen=1/_SUCCESS" -> appendIvfNight(s, d, 1),
      "postings/gen=2/_SUCCESS" -> appendIvfNight(s, d, 2)))

  /** Freeze an append store's quantizer: `base`'s 16 smallest-id seeds,
    * one exact-micro Lloyd step, float-cast centroids into `dir`.
    */
  private def trainFrozenIvf(base: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    val seed = Similarity.centroidRows(
      base.orderBy("vec_id").limit(16), "vec_id", "embedding")
    Similarity.kmeansStep(base, "vec_id", "embedding", seed)
      .select(col("cell"),
        expr("transform(centroid, x -> cast(x as float))").as("centroid"))
      .write.mode("overwrite").parquet(dir + "/centroids")
  }

  /** Assign `slice` under `dir`'s STORED centroids and write it as
    * postings generation `gen`, hive-partitioned by cell.
    */
  private def appendIvfGen(s: org.apache.spark.sql.SparkSession,
      slice: org.apache.spark.sql.DataFrame, dir: String, gen: Int): Unit =
    Similarity.ivfAssignCells(slice, "vec_id", "embedding",
        Similarity.centroidRows(
          Tables.parquet(s, dir + "/centroids"), "cell", "centroid"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(dir + s"/postings/gen=$gen")

  /** The nightly append stage: `night`'s slice lands as the next
    * generation ([[ArtifactCache.nextGen]]) of the store at `dir`.
    */
  private def appendIvfNight(s: org.apache.spark.sql.SparkSession, d: String,
      night: Int)(dir: String): Unit =
    appendIvfGen(s, nightSlice(t(s, d, "embeddings"), "vec_id", night), dir,
      ArtifactCache.nextGen(s, dir, "postings"))

  /** The lifecycle CYCLE closed (`q_ann_index_cycle`): night 1's
    * generations are COMPACTED into one, and night 2 appends INTO the
    * compacted store as the next generation ([[ArtifactCache.nextGen]]
    * → 1 — the counter restarts naturally because compaction collapsed
    * history to gen=0; nothing is copied out, the artifact dir itself
    * rolls forward). This executes the claim the compact verb only
    * implied: "tomorrow's append starts from this dir". Compact →
    * append == append → append == full rebuild under the frozen
    * quantizer (SimilaritySpec pins the layouts; the unchanged oracle
    * pins the served ranks).
    */
  private def materializedIvfCycleDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.staged(s, d, "embeddings", "ivfcycle", Seq(
      "centroids/_SUCCESS" -> { dir =>
        Tables.parquet(s, materializedIvfNightsDir(s, d) + "/centroids")
          .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
      },
      "postings/gen=0/_SUCCESS" -> { dir =>
        // COMPACT the night-1 state: ONE scan of generations <= 1 (the
        // gen partition column prunes night 2's files at the listing),
        // the gen dimension dropped, one partitionBy(cell) rewrite
        Tables.parquet(s, materializedIvfNightsDir(s, d) + "/postings")
          .filter(col("gen") <= 1)
          .select(col("c_id"), col("c_vec"), col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(dir + "/postings/gen=0")
      },
      // night 2 appends into the compacted store — the SAME append body
      // as materializedIvfNightsDir's, generation from nextGen
      "postings/gen=1/_SUCCESS" -> appendIvfNight(s, d, 2)))

  /** The IVF index under the APPEND lifecycle (`q_ann_index_incr`): the
    * quantizer is trained ONCE on the base corpus (vec_id % 4 != 3, "the
    * corpus as of the index build") and frozen; the appended vectors are
    * assigned under the STORED centroids and land as their own postings
    * GENERATION (`postings/gen=1`, hive-partitioned by cell like gen=0)
    * — the segment model every production vector store appends with.
    * [[ArtifactCache.staged]] gives each stage its own marker, so a
    * pending append re-runs WITHOUT repeating the base build, and each
    * stage overwrites only its own generation (crash-safe, no in-place
    * mode-append duplication). One read of `postings/` discovers
    * (gen, cell) partitions; queries prune on cell across generations.
    */
  private def materializedIvfIncrIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    def base = t(s, d, "embeddings").filter(col("vec_id") % 4 =!= 3)
    ArtifactCache.staged(s, d, "embeddings", "ivfincr", Seq(
      "centroids/_SUCCESS" -> (trainFrozenIvf(base, _)),
      "postings/gen=0/_SUCCESS" -> (appendIvfGen(s, base, _, 0)),
      "postings/gen=1/_SUCCESS" -> (appendIvfGen(s,
        t(s, d, "embeddings").filter(col("vec_id") % 4 === 3), _, 1))))
  }

  /** COMPACT the two-generation incremental IVF index into one postings
    * layout — the third verb of the segment lifecycle (build → append →
    * compact): every nightly append adds a generation, and per-query
    * listing/open cost grows with the segment count, so production
    * stores periodically rewrite the accumulated generations. Depends on
    * [[materializedIvfIncrIndexDir]] (built first if cold); compaction
    * itself is pure I/O — ONE scan of both generations (all cells), the
    * gen dimension dropped, ONE partitionBy(cell) rewrite, centroids
    * copied verbatim. No re-assignment and no re-training: the frozen
    * quantizer guarantees compacted == the generations' union
    * (spec-pinned in SimilaritySpec), which is why the oracle is
    * unchanged.
    */
  private def materializedIvfCompactIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "embeddings", "ivfcompact",
        Seq("centroids/_SUCCESS", "postings/_SUCCESS"))(
      compactIvf(s, materializedIvfIncrIndexDir(s, d), _))

  /** The IVF-Flat compact body: `src`'s centroids copied into one file,
    * its postings generations read in ONE scan and rewritten as one
    * partitionBy(cell) layout under `dir`.
    */
  private def compactIvf(s: org.apache.spark.sql.SparkSession, src: String,
      dir: String): Unit = {
    Tables.parquet(s, src + "/centroids").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/centroids")
    Tables.parquet(s, src + "/postings")
      .select(col("c_id"), col("c_vec"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/postings")
  }

  /** Build the COMPRESSED (IVF-PQ) index from `corpus` into `dir` — the
    * layout production vector stores actually serve: `centroids/` =
    * the 3-iteration-Lloyd coarse quantizer, `books/` = the residual PQ
    * codebooks (m=8 subspaces × ks=16 codewords × 8 dims of doubles —
    * KBs), `codes/` = every vector's 8-byte PQ code, PARTITIONED BY cell
    * (32× smaller than the IVF-Flat postings' raw float vectors: the
    * probe scan reads codes, never vectors). Doubles round-trip parquet
    * exactly, so the served chain is bit-identical to the inline one.
    * The ONE builder behind the nightly build
    * ([[materializedIvfPqIndexDir]]) and the registry's refreshed v1
    * ([[materializedIvfPqRegistryDir]]), so "refreshed == rebuilt" holds
    * for the PQ family by construction.
    */
  private def buildIvfPq(s: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    import s.implicits._
    val seed = Similarity.centroidRows(
      corpus.filter(col("vec_id") < 8), "vec_id", "embedding")
    val trained = Similarity.kmeansTrain(corpus, "vec_id", "embedding",
      seed, maxIters = 3, tol = 0.0)
    val cents = trained.map(_._2.map(_.toDouble).toArray)
    val books = Pq.trainResidualCodebooks(corpus, "vec_id", "embedding",
      cents, m = 8, ks = 16)
    // cell/codeword ids are POSITIONS in the trained arrays — store
    // them explicitly so the read side reassembles the same arrays
    cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/centroids")
    (for { sp <- books.indices; c <- books(sp).indices }
      yield (sp, c, books(sp)(c).toSeq)).toDF("s", "cword", "bc")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/books")
    Pq.ivfPqEncode(corpus, "vec_id", "embedding", cents, books)
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/codes")
  }

  private def materializedIvfPqIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "embeddings", "ivfpq",
        Seq("centroids/_SUCCESS", "books/_SUCCESS", "codes/_SUCCESS")) { dir =>
      buildIvfPq(s, t(s, d, "embeddings"), dir)
    }

  /** The COMPRESSED index under the APPEND lifecycle
    * (`q_ann_index_incr_pq`) — q_ann_index_incr's production sibling:
    * the coarse quantizer AND the residual codebooks are trained once on
    * the base corpus (vec_id % 4 != 3) and frozen; appended vectors are
    * assigned + PQ-encoded under the STORED model and land as their own
    * codes GENERATION (`codes/gen=1`, hive-partitioned by cell like
    * gen=0). [[ArtifactCache.staged]] markers let a pending append
    * re-run without repeating model training or the base encode; each
    * stage overwrites only its own subdirectory. Frozen model ⇒
    * appended == rebuilt under the same (centroids, books), which is
    * exactly what the oracle computes (training CTEs restricted to the
    * base slice, encode/probe/ranks over the whole corpus).
    */
  private def materializedIvfPqIncrIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    import s.implicits._
    def baseOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("vec_id") % 4 =!= 3)
    def storedCents(dir: String): Array[Array[Double]] =
      Tables.parquet(s, dir + "/centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
    ArtifactCache.staged(s, d, "embeddings", "ivfpqincr", Seq(
      "centroids/_SUCCESS" -> { dir =>
        val base = baseOf(t(s, d, "embeddings"))
        val seed = Similarity.centroidRows(
          base.orderBy("vec_id").limit(8), "vec_id", "embedding").sortBy(_._1)
        val trained = Similarity.kmeansTrain(base, "vec_id", "embedding",
          seed, maxIters = 3, tol = 0.0)
        trained.map(_._2.map(_.toDouble)).zipWithIndex
          .map { case (cv, i) => (i, cv.toSeq) }.toSeq
          .toDF("cell", "centroid").coalesce(1)
          .write.mode("overwrite").parquet(dir + "/centroids")
      },
      "books/_SUCCESS" -> { dir =>
        val base = baseOf(t(s, d, "embeddings"))
        val books = Pq.trainResidualCodebooks(base, "vec_id", "embedding",
          storedCents(dir), m = 8, ks = 16)
        (for { sp <- books.indices; c <- books(sp).indices }
          yield (sp, c, books(sp)(c).toSeq)).toDF("s", "cword", "bc")
          .coalesce(1).write.mode("overwrite").parquet(dir + "/books")
      },
      "codes/gen=0/_SUCCESS" -> { dir =>
        val (cents, books) = readIvfPqModel(s, dir)
        Pq.ivfPqEncode(baseOf(t(s, d, "embeddings")), "vec_id", "embedding",
            cents, books)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(dir + "/codes/gen=0")
      },
      "codes/gen=1/_SUCCESS" -> { dir =>
        val (cents, books) = readIvfPqModel(s, dir)
        val incr = t(s, d, "embeddings").filter(col("vec_id") % 4 === 3)
        Pq.ivfPqEncode(incr, "vec_id", "embedding", cents, books)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(dir + "/codes/gen=1")
      }))
  }

  /** COMPACT the two-generation incremental IVF-PQ index into one flat
    * codes layout — completing the compressed index's verb set (build →
    * append → compact) to match IVF-Flat's. Pure I/O under the frozen
    * model: ONE scan of both code generations, the gen dimension
    * dropped, ONE partitionBy(cell) rewrite; centroids and books copied
    * verbatim. No re-training, no re-encoding — the frozen model
    * guarantees compacted == the generations' union (PqSpec pins it),
    * so the oracle is unchanged from q_ann_index_incr_pq.
    */
  private def materializedIvfPqCompactIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "embeddings", "ivfpqcompact",
        Seq("centroids/_SUCCESS", "books/_SUCCESS", "codes/_SUCCESS"))(
      compactIvfPq(s, materializedIvfPqIncrIndexDir(s, d), _))

  /** The IVF-PQ compact body: `src`'s centroids and codebooks copied into
    * one file each, its codes generations read in ONE scan and rewritten
    * as one partitionBy(cell) layout under `dir`.
    */
  private def compactIvfPq(s: org.apache.spark.sql.SparkSession, src: String,
      dir: String): Unit = {
    Seq("centroids", "books").foreach { sub =>
      Tables.parquet(s, s"$src/$sub").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$sub")
    }
    Tables.parquet(s, src + "/codes")
      .select(col("vec_id"), col("pq_code"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/codes")
  }

  /** The IVF-PQ [[ArtifactCache.registry]] (`q_ann_refresh_pq`,
    * `q_pq_serve_current`): v0 = the frozen append-era store
    * ([[materializedIvfPqIncrIndexDir]]) compacted ([[compactIvfPq]]);
    * trips = [[ivfNeedsRefresh]] on v0's codes (occupancy skew OR
    * sampled ADC recall decay, [[sampledRecallPqMicro]]); v1 = coarse
    * quantizer AND residual codebooks retrained on the current corpus,
    * every vector re-encoded ([[buildIvfPq]]).
    */
  private[graft] def materializedIvfPqRegistryDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.registry(s, d, "embeddings",
        gatedTag(s, "ivfpqreg", annGates: _*))(
      snapshot = compactIvfPq(s, materializedIvfPqIncrIndexDir(s, d), _),
      trips = ivfNeedsRefresh(s, d, _, "codes", sampledRecallPqMicro(s, d, _)),
      rebuild = buildIvfPq(s, t(s, d, "embeddings"), _))

  /** q_ann_refresh_pq / q_pq_serve_current: ADC top-10 neighbours of the
    * first five vectors from the IVF-PQ registry's CURRENT version.
    */
  private def servePqCurrent(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val reg = materializedIvfPqRegistryDir(s, d)
    val idx = s"$reg/${ArtifactCache.current(s, reg)}"
    val (cents, books) = readIvfPqModel(s, idx)
    Pq.ivfPqTopK(Tables.parquet(s, idx + "/codes"),
        t(s, d, "embeddings").filter(col("vec_id") < 5),
        "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
      .select(col("q_id"), col("c_id"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** Reassemble (coarse centroids, PQ codebooks) from a stored IVF-PQ
    * index — two bounded collects (8 + 128 rows, the centroid-table
    * contract).
    */
  private def readIvfPqModel(s: org.apache.spark.sql.SparkSession,
      idx: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = Tables.parquet(s, idx + "/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val bookRows = Tables.parquet(s, idx + "/books").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    val m = bookRows.keys.map(_._1).max + 1
    val ks = bookRows.keys.map(_._2).max + 1
    (cents, Array.tabulate(m, ks)((sp, c) => bookRows((sp, c))))
  }

  /** BPE merge table learned at sf0.01 — `Bpe.trainMerges(documents,
    * text, perRound = 16, rounds = 3)`, inlined as a literal so the
    * DuckDB oracle applies the IDENTICAL chain (training itself is
    * deterministic at any partitioning, BpeSpec; the training signal is
    * oracled separately as q_bpe_pairs).
    */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "e r", "i n", "o w", "o r", "s t", "m e", "t o", "a t", "l u", "a l",
    "r o", "t a", "a s", "u e", "a r", "p a", "m er", "p ar", "j o",
    "o in", "as h", "h as", "r ow", "at c", "b at", "c h", "a n", "c a",
    "s c", "c o", "c u", "lu m", "jo in", "h ash", "atc h", "b atc",
    "sc an", "co lum", "cu st", "lum n", "o mer", "st o", "f i", "i l",
    "l t", "t er", "al l", "m al")
    .map { s => val i = s.indexOf(' '); (s.substring(0, i), s.substring(i + 1)) }

  /** DuckDB spaced-representation expression (the Spark side is
    * [[Bpe.spacedRepr]]; regex semantics align — `\\1` vs `$1` is the
    * only dialect difference).
    */
  private val bpeBaseSql =
    """' ' || trim(regexp_replace(regexp_replace(regexp_replace(lower(text), """ +
      """'[^a-z0-9]+', ' | ', 'g'), '([a-z0-9])', '\1 ', 'g'), ' +', ' ', 'g')) || ' '"""

  /** The first `n` merges as nested DuckDB `replace` calls — same
    * leftmost-non-overlapping semantics as Spark's `replace`. The
    * training oracle (q_bpe_train) needs each ROUND's prefix chain;
    * everything else uses the full chain below.
    */
  private def bpeAppliedSqlPrefix(n: Int): String =
    BpeMerges.take(n).foldLeft(bpeBaseSql) { case (acc, (x, y)) =>
      s"replace($acc, ' $x $y ', ' $x$y ')"
    }

  /** The full merge chain. */
  private val bpeAppliedSql = bpeAppliedSqlPrefix(BpeMerges.size)

  /** Shared by q_bpe_encode (inlined merge literal) and
    * q_bpe_encode_from_table (merge table read back from the stored
    * model artifact) — identical token arrays by construction.
    */
  private lazy val BpeEncodeOracleSql: Option[String] =
    Some(s"""WITH a AS (SELECT doc_id, $bpeAppliedSql AS ap FROM documents),
            |tk AS (SELECT doc_id, list_filter(string_split(trim(ap), ' '),
            |  t -> t <> '|' AND t <> '') AS toks FROM a)
            |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
            |  array_to_string(toks[1:12], ',') AS head
            |FROM tk WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)

  /** The stored tokenizer model (`q_bpe_encode_from_table`): 48 (ord, x,
    * y) merge rows parquet'd once per corpus version — the registry
    * artifact a serving pass loads instead of recompiling the trainer's
    * output into code.
    */
  private def materializedBpeMergesDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "bpemerges", Seq("_SUCCESS")) { dir =>
      import s.implicits._
      BpeMerges.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("ord", "x", "y")
        .write.mode("overwrite").parquet(dir)
    }

  // ---- DATA-DEPENDENT tokenizer oracle (q_bpe_refresh family) ---------
  //
  // q_bpe_train's oracle can unroll the literal BpeMerges prefix chain
  // because both engines apply the SAME literal; a REFRESH retrains at
  // runtime, so its oracle must re-derive the learned trajectory FROM
  // DATA and then apply merges that are row values, not literals. SQL
  // cannot fold a data-dependent merge list into a replace chain — but
  // each round is exactly 16 ranked rows, so the chain unrolls as 16
  // nested `replace` calls whose search/replacement arguments are
  // uncorrelated SCALAR SUBQUERIES against the round's MATERIALIZED CTE
  // (materialization matters: without it DuckDB re-evaluates the whole
  // training chain per subquery). ' ~ ~ ' placeholders keep a short
  // round harmless ('~' cannot appear in the spaced form). Validated
  // byte-identical to the literal chain at sf0.01 (where the full-corpus
  // trajectory IS BpeMerges) and priced at ~1-2 s at sf0.1.

  /** Word histogram of the spaced form over `documents$docWhere` —
    * [[bpeHistSql]] parameterized by corpus slice and MATERIALIZED. */
  private def duckBpeHistCte(name: String, docWhere: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT ' ' || trim(w0) || ' ' AS word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split($bpeBaseSql, '|')) AS w0 FROM documents$docWhere)
       |  WHERE trim(w0) <> '' GROUP BY 1)""".stripMargin

  /** One training round DERIVED FROM DATA: top-16 weighted pair counts
    * of histogram CTE `h`, ranked by the trainer's total order. */
  private def duckBpeRoundCte(h: String, name: String): String =
    s"""$name AS MATERIALIZED (SELECT x, y, row_number() OVER (ORDER BY c DESC, x, y) AS i FROM (
       |  SELECT pr[1] AS x, pr[2] AS y, sum(cnt) AS c
       |  FROM (SELECT cnt, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
       |        FROM (SELECT cnt, string_split(trim(word), ' ') AS l FROM $h))
       |  WHERE pr[1] <> '' AND pr[2] <> ''
       |  GROUP BY 1, 2 ORDER BY c DESC, x, y LIMIT 16))""".stripMargin

  /** Apply round table `tbl`'s 16 DATA-VALUED merges to `e`, in rank
    * order — nested replaces with scalar-subquery arguments. */
  private def duckBpeApplyRound(e: String, tbl: String): String =
    (1 to 16).foldLeft(e) { (acc, i) =>
      s"replace($acc, coalesce((SELECT ' ' || x || ' ' || y || ' ' FROM $tbl WHERE i = $i), ' ~ ~ '), " +
        s"coalesce((SELECT ' ' || x || y || ' ' FROM $tbl WHERE i = $i), ' ~~ '))"
    }

  /** The full 3-round trained-from-data chain as CTEs (`${p}r1..r3` =
    * the learned rounds), training slice = `documents$docWhere`. */
  private def duckBpeTrainedCtes(p: String, docWhere: String): String =
    Seq(
      duckBpeHistCte(s"${p}hist", docWhere),
      duckBpeRoundCte(s"${p}hist", s"${p}r1"),
      s"${p}h1 AS MATERIALIZED (SELECT ${duckBpeApplyRound("word", s"${p}r1")} AS word, cnt FROM ${p}hist)",
      duckBpeRoundCte(s"${p}h1", s"${p}r2"),
      s"${p}h2 AS MATERIALIZED (SELECT ${duckBpeApplyRound("word", s"${p}r2")} AS word, cnt FROM ${p}h1)",
      duckBpeRoundCte(s"${p}h2", s"${p}r3")
    ).mkString(",\n")

  /** The spaced form with all 48 learned merges of the `p`-prefixed
    * trained chain applied in training order. */
  private def duckBpeTrainedApplySql(p: String): String =
    duckBpeApplyRound(duckBpeApplyRound(duckBpeApplyRound(
      bpeBaseSql, s"${p}r1"), s"${p}r2"), s"${p}r3")

  /** The retrained-tokenizer SERVE oracle — re-derives the full-corpus
    * 3-round training trajectory from data and applies the 48 learned
    * merges through scalar subqueries. The oracle of q_bpe_refresh and
    * q_bpe_serve_current (one body: serve through the registry's CURRENT
    * pointer, which a forced refresh points at the retrained version).
    */
  private lazy val BpeRetrainedEncodeOracleSql: Option[String] =
    Some(s"""WITH ${duckBpeTrainedCtes("", "")},
            |a AS (SELECT doc_id, ${duckBpeTrainedApplySql("")} AS ap FROM documents),
            |tk AS (SELECT doc_id, list_filter(string_split(trim(ap), ' '),
            |  t -> t <> '|' AND t <> '') AS toks FROM a)
            |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
            |  array_to_string(toks[1:12], ',') AS head
            |FROM tk WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)

  /** Load a stored (ord, x, y) merge table — 48 rows, the bounded
    * model-table contract. */
  private def loadMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    Tables.parquet(s, dir).orderBy("ord").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  private def storeMerges(s: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], dir: String): Unit = {
    import s.implicits._
    merges.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("ord", "x", "y")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Store the merges the one-scan histogram trainer learns on `docs`
    * (16 per round, 3 rounds) into `dir` — the ONE tokenizer trainer
    * behind the frozen table, the drift-gated retrain and the
    * registry's v1.
    */
  private def trainMergesInto(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, dir: String): Unit =
    storeMerges(s, Bpe.trainMergesHist(docs, col("text"), 16, 3), dir)

  /** The FROZEN tokenizer of the refresh story — merges trained on the
    * "corpus as of the tokenizer build" (doc_id % 4 != 3, the same
    * as-of slice the ANN stores freeze on), stored as an artifact.
    * Appends encode fine under it until the corpus drifts — which is
    * exactly what [[materializedBpeRegistryDir]]'s trigger watches.
    */
  private def materializedBpeBaseDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "bpebase", Seq("_SUCCESS"))(
      trainMergesInto(s, t(s, d, "documents").filter(col("doc_id") % 4 =!= 3), _))

  /** Per mixture source (source, n_docs, n_bpe, n_chars,
    * chars_per_tok_micro) of the CURRENT corpus under the stored merge
    * table at `modelDir` — the compression readout of q_bpe_eval,
    * q_bpe_refresh_trigger and q_bpe_refresh_gated, and, summed over
    * sources, the trigger scalar ([[bpeCompressionMicro]]). One scan;
    * the token count rides it as the codegen'd replace chain.
    */
  private def bpeCompressionBySource(s: org.apache.spark.sql.SparkSession,
      d: String, modelDir: String): org.apache.spark.sql.DataFrame = {
    val merges = loadMerges(s, modelDir)
    // tFan, not t: a 48-merge replace-chain tokenCount over the corpus
    // is the heavy-per-row class the r20 fan-out classification keeps
    // fanned (a single-split scan of it cost 1.44 s of a 2.3 s probe)
    tFan(s, d, "documents")
      .select(col("source"), length(col("text")).cast("long").as("nc"),
        Bpe.tokenCount(col("text"), merges).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_bpe"),
        sum("nc").as("n_chars"))
      // integral `div`, matching the oracle's exact BIGINT `//` — Long
      // `/` detours through DOUBLE and can drift by 1 micro once
      // 1e6·Σchars crosses 2^53 (ADVICE r17)
      .withColumn("chars_per_tok_micro", expr("(n_chars * 1000000) div n_bpe"))
  }

  /** Corpus-wide compression (chars-per-token, exact integer micros) of
    * the CURRENT corpus under a stored merge table — the tokenizer
    * refresh TRIGGER scalar (q_bpe_eval's metric collapsed to one
    * number): merges frozen on yesterday's corpus lose compression as
    * the corpus drifts out of their domain. Zero tokens read
    * Long.MaxValue.
    */
  private def bpeCompressionMicro(s: org.apache.spark.sql.SparkSession,
      d: String, modelDir: String): Long = {
    val agg = bpeCompressionBySource(s, d, modelDir)
      .agg(sum("n_chars"), sum("n_bpe"))
      .collect()(0) // one scalar row — the decision input
    if (agg.getLong(1) == 0L) Long.MaxValue
    else agg.getLong(0) * 1000000L / agg.getLong(1)
  }

  /** The tokenizer refresh threshold: compression (chars-per-token
    * micros) below it retrains. Default Long.MaxValue forces the retrain.
    */
  private def bpeRefreshCptMicro(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("spark.graft.bpe.refreshCptMicro")
      .map(_.toLong).getOrElse(Long.MaxValue)

  /** The merge table retrained on the current corpus that the
    * drift-gated q_bpe_refresh_gated serves when its `tok_est` PSI gate
    * fires (that gate is not the registry's trigger, so it keeps its own
    * artifact).
    */
  private def materializedBpeRetrainDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "bperefresh", Seq("_SUCCESS"))(
      trainMergesInto(s, t(s, d, "documents"), _))

  /** The tokenizer [[ArtifactCache.registry]] (`q_bpe_refresh`,
    * `q_bpe_serve_current`) — the tokenizer model REFRESH: frozen merges
    * encode any APPEND, but a drifted corpus compresses worse and worse
    * under them. v0 = the frozen base-slice merge table
    * ([[materializedBpeBaseDir]]); trips = v0's corpus compression
    * ([[bpeCompressionMicro]]) under `spark.graft.bpe.refreshCptMicro`;
    * v1 = merges retrained on the current corpus.
    */
  private[graft] def materializedBpeRegistryDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.registry(s, d, "documents",
        gatedTag(s, "bpereg",
          "spark.graft.bpe.refreshCptMicro" -> Long.MaxValue.toString))(
      snapshot = copyTable(s, materializedBpeBaseDir(s, d), _),
      trips = v0 => bpeCompressionMicro(s, d, v0) < bpeRefreshCptMicro(s),
      rebuild = trainMergesInto(s, t(s, d, "documents"), _))

  /** q_bpe_refresh / q_bpe_serve_current: the first 300 documents
    * encoded under the tokenizer registry's CURRENT merge table.
    */
  private def serveBpeCurrent(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val reg = materializedBpeRegistryDir(s, d)
    val toks = Bpe.encode(col("text"),
      loadMerges(s, s"$reg/${ArtifactCache.current(s, reg)}"))
    t(s, d, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_bpe"),
        array_join(slice(toks, 1, 12), ",").as("head"))
      .orderBy("doc_id")
  }

  /** The classifier [[ArtifactCache.registry]] (`q_classifier_refresh`,
    * `q_lr_serve_current`): v0 = the frozen base-slice weight table
    * ([[materializedLrBaseModelDir]]); trips = the drift panel's quality
    * PSI over `spark.graft.lr.refreshPsiMicro` ([[panelTrips]]); v1 = the
    * current-corpus model ([[materializedLrModelDir]]).
    */
  private[graft] def materializedLrRegistryDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.registry(s, d, "documents",
        gatedTag(s, "lrreg", "spark.graft.lr.refreshPsiMicro" -> "-1"))(
      snapshot = copyTable(s, materializedLrBaseModelDir(s, d), _),
      trips = _ => panelTrips(panelPsiBySource(s, d, "quality"), s,
        "spark.graft.lr.refreshPsiMicro"),
      rebuild = copyTable(s, materializedLrModelDir(s, d), _))

  /** The classifier registry's CURRENT weight table, in bucket order. */
  private def currentLrWeights(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] = {
    val reg = materializedLrRegistryDir(s, d)
    Tables.parquet(s, s"$reg/${ArtifactCache.current(s, reg)}")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).map(_._2).toSeq
  }

  /** Copy the single-table artifact at `src` into one file at `dst`. */
  private def copyTable(s: org.apache.spark.sql.SparkSession, src: String,
      dst: String): Unit =
    Tables.parquet(s, src).coalesce(1).write.mode("overwrite").parquet(dst)

  /** The drift-panel term table (q_drift_panel's computation, unordered):
    * per (mixture source, feature, bucket), the exact-integer PSI and JS
    * divergence term micros of the current slice vs the frozen src0
    * reference. ONE corpus scan computes all three feature histograms
    * (the per-row cells explode and one partial aggregate counts them);
    * everything after runs on the sources × 3 × 16 spine, never the
    * corpus again. Shared by the panel readout query and the gated
    * refresh verbs ([[panelPsiBySource]]) so monitoring and triggering
    * can never drift apart.
    */
  private def driftPanelTerms(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // __toks binds the tokenization once per row (the batch-1 __b idiom):
    // qualityScoreRaw references its token argument three times, and
    // regex-split higher-order chains get no codegen CSE
    val docs = t(s, d, "documents")
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
    val toks = col("__toks")
    val qMicro = floor(TextAnalysis.qualityScoreRaw(col("text"), toks)
      * lit(1e6)).cast("long")
    val feats = array(
      struct(lit("n_chars").as("feature"),
        HistQuantile.bucketOf(col("n_chars"), 0L, 1024L, 16).as("bucket")),
      struct(lit("quality").as("feature"),
        HistQuantile.bucketOf(qMicro, 0L, 1000000L, 16).as("bucket")),
      struct(lit("tok_est").as("feature"),
        HistQuantile.bucketOf(
          TextAnalysis.tokenEstimate(col("text")).cast("long"),
          0L, 256L, 16).as("bucket")))
    // ONE corpus scan: explode the 3 cells per row, count every
    // (source, feature, bucket) histogram in one partial aggregate;
    // checkpoint the tiny counted table so its two consumers (ref
    // slice + cur slice) never re-pay the scan
    val cnts = docs.select(col("source"), explode(feats).as("f"))
      .select(col("source"), col("f.feature").as("feature"),
        col("f.bucket").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("source", "feature", "bucket")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ref = cnts.filter(col("source") === "src0")
      .select(col("feature"), col("bucket"), col("n").as("cnt_ref"))
    val cur = cnts.filter(col("source") =!= "src0")
      .select(col("source"), col("feature"), col("bucket"),
        col("n").as("cnt_cur"))
    val spine = docs.filter(col("source") =!= "src0")
      .select("source").distinct()
      .crossJoin(Seq("n_chars", "quality", "tok_est").toDF("feature"))
      .crossJoin(s.range(16).select(col("id").as("bucket")))
    val full = spine
      .join(cur, Seq("source", "feature", "bucket"), "left")
      .join(ref, Seq("feature", "bucket"), "left")
      .select(col("source"), col("feature"), col("bucket"),
        coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
        coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"))
    Drift.psiJsTerms(full, Seq("source", "feature"), 16)
  }

  /** The drift panel collapsed to the per-source PSI of ONE feature —
    * the trigger input the gated model-refresh verbs act on (the
    * monitoring → action edge: the SAME term table q_drift_panel
    * publishes, summed over its 16 buckets).
    */
  private def panelPsiBySource(s: org.apache.spark.sql.SparkSession,
      d: String, feature: String): org.apache.spark.sql.DataFrame =
    driftPanelTerms(s, d).filter(col("feature") === feature)
      .groupBy("source").agg(sum("psi_term_micro").as("psi_micro"))

  /** True iff the PSI table ([[panelPsiBySource]], handed in so the
    * caller's output readout and this decision share ONE panel scan)
    * exceeds the `confKey` threshold for ANY mixture source. The
    * decision read is bounded by contract: one aggregate row over the
    * ≤ n_sources PSI table. Default threshold is -1 (PSI sums are ≥ 0,
    * so on any corpus WITH drift evidence the registered queries always
    * fire and their oracles price the retrained serve); Long.MaxValue
    * pins the gate off without reading the table (the spec's frozen
    * leg). The one documented exception to "default always fires": a
    * corpus with no non-reference sources yields an EMPTY PSI table —
    * no drift evidence — and the gate deliberately does not trip, so
    * the frozen leg serves (its gated readout is empty over such a
    * corpus anyway, so both legs agree; ADVICE r19).
    */
  private def panelTrips(psi: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, confKey: String): Boolean = {
    val thr = s.conf.getOption(confKey).map(_.toLong).getOrElse(-1L)
    if (thr == Long.MaxValue) false
    else {
      val worst = psi.agg(max("psi_micro")).collect() // one decision row
      // empty/null aggregate = sourceless corpus: explicitly no-trip
      worst.nonEmpty && !worst(0).isNullAt(0) && worst(0).getLong(0) > thr
    }
  }

  /** DuckDB twin of [[panelPsiBySource]]: CTE block ending in
    * `psis(source, psi_micro)` — q_drift_panel's per-term arithmetic
    * (+1/+16 smoothed p/q, per-bucket micro-rounded PSI terms) for one
    * feature, summed per mixture source. `vExpr`/`hi` are the panel's
    * feature value expression and histogram upper bound.
    */
  private def panelPsiCtes(vExpr: String, hi: Long): String =
    s"""pvals AS (SELECT source, CAST($vExpr AS BIGINT) AS v FROM documents),
       |pnn AS (SELECT source, v FROM pvals WHERE v IS NOT NULL),
       |pbkt AS (SELECT source,
       |    (LEAST($hi - 1, GREATEST(0, v)) * 16) // $hi AS bucket FROM pnn),
       |prefc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_ref
       |  FROM pbkt WHERE source = 'src0' GROUP BY 1),
       |pcurc AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt_cur
       |  FROM pbkt WHERE source <> 'src0' GROUP BY 1, 2),
       |pspine AS (SELECT s.source, CAST(b.b AS BIGINT) AS bucket
       |  FROM (SELECT DISTINCT source FROM documents WHERE source <> 'src0') s
       |  CROSS JOIN (SELECT unnest(range(16)) AS b) b),
       |pf AS (SELECT sp.source, sp.bucket, coalesce(r.cnt_ref, 0) AS cnt_ref,
       |    coalesce(c.cnt_cur, 0) AS cnt_cur
       |  FROM pspine sp
       |  LEFT JOIN pcurc c ON c.source = sp.source AND c.bucket = sp.bucket
       |  LEFT JOIN prefc r ON r.bucket = sp.bucket),
       |ptot AS (SELECT source, sum(cnt_ref) AS nr, sum(cnt_cur) AS nc
       |  FROM pf GROUP BY 1),
       |ppq AS (SELECT f.source, f.bucket,
       |    CAST(f.cnt_ref + 1 AS DOUBLE) / CAST(t.nr + 16 AS DOUBLE) AS p,
       |    CAST(f.cnt_cur + 1 AS DOUBLE) / CAST(t.nc + 16 AS DOUBLE) AS q
       |  FROM pf f JOIN ptot t ON t.source = f.source),
       |psis AS (SELECT source,
       |    CAST(sum(CAST(round((p - q) * ln(p / q) * 1e6, 0) AS BIGINT)) AS BIGINT) AS psi_micro
       |  FROM ppq GROUP BY source)""".stripMargin

  /** DuckDB pair-count-top-16 for one training round, over the working
    * form with the first `nApplied` merges applied — the SQL twin of
    * `Bpe.pairCounts(..., BpeMerges.take(nApplied)).limit(16)`.
    */
  private def bpeRoundSql(round: Int, nApplied: Int): String =
    s"""(SELECT $round AS round, pr[1] AS x, pr[2] AS y, count(*) AS c
       |  FROM (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
       |        FROM (SELECT string_split(trim(${bpeAppliedSqlPrefix(nApplied)}), ' ') AS l
       |              FROM documents))
       |  WHERE pr[1] <> '|' AND pr[2] <> '|' AND pr[1] <> '' AND pr[2] <> ''
       |  GROUP BY 2, 3 ORDER BY c DESC, x, y LIMIT 16)""".stripMargin

  /** Starting weight table for the logistic-regression training step —
    * hashedLinearScore's pure bucket function in integer micros, inlined
    * on both engines (a real deployment starts from zeros or a warm
    * checkpoint; any 256-long table trains the same way).
    */
  private val LrInitWeights: Seq[Long] =
    (0 until 256).map(b => Math.floorMod(b * 2654435761L, 1997L) - 998L)

  /** Margin thresholds (micros) of the q_classifier_curve sweep — the
    * eval cut (0) plus four cuts through the corpus's actual margin
    * distribution (two weakly-regularized GD steps on ~±1000-micro
    * hashed weights over ~50-token docs land margins around −60M..−7M
    * micros; the doc-length distribution, hence the scale, is
    * sf-independent), so the curve actually trades precision against
    * recall instead of sitting in an all-negative corner.
    */
  private val CurveThresholdsMicro: Seq[Long] =
    Seq(-60000000L, -45000000L, -30000000L, -15000000L, 0L)

  /** The HELD-OUT classifier chain as CTEs, shared by
    * q_classifier_eval_holdout and q_classifier_curve: the content-hash
    * split (q_hash_split's md5 bucket: train < 800, valid ∈ [800, 900)),
    * two GD steps unrolled over the TRAIN split only (cnt = its count —
    * the same Long arithmetic as q_classifier_eval's oracle), ending in
    * `sc(y, mm)` = the VALID split's margins under the step-2 weights.
    */
  private def holdoutClassifierCtes: String = {
    def step(i: Int): String = {
      val (wp, m, r, g, w) = (s"w${i - 1}", s"m$i", s"r$i", s"g$i", s"w$i")
      s"""$m AS (SELECT tk.doc_id, tk.y, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
         |  FROM tr tk LEFT JOIN (SELECT occ.doc_id, sum($wp.w) AS mm
         |    FROM occ JOIN $wp ON $wp.b = occ.b GROUP BY occ.doc_id) s
         |  ON s.doc_id = tk.doc_id),
         |$r AS (SELECT doc_id, CAST(round((1.0/(1.0+exp(-CAST(mm AS DOUBLE)/1e6))
         |    - CAST(y AS DOUBLE))*1e6, 0) AS BIGINT) AS rm FROM $m),
         |$g AS (SELECT occ.b, CAST(sum($r.rm) AS BIGINT) AS gg
         |  FROM occ JOIN $r ON $r.doc_id = occ.doc_id GROUP BY occ.b),
         |$w AS (SELECT $wp.b, $wp.w - (CASE WHEN coalesce($g.gg, 0) >= 0
         |    THEN (1000000 * coalesce($g.gg, 0)) // (1000000 * cnt.n)
         |    ELSE -((-(1000000 * coalesce($g.gg, 0))) // (1000000 * cnt.n)) END) AS w
         |  FROM $wp LEFT JOIN $g ON $g.b = $wp.b CROSS JOIN cnt)""".stripMargin
    }
    s"""alld AS (SELECT doc_id, source, text,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 AS sb
       |  FROM documents),
       |toks AS (SELECT doc_id, sb,
       |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
       |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
       |  FROM alld),
       |tr AS (SELECT doc_id, y, t FROM toks WHERE sb < 800),
       |va AS (SELECT doc_id, y, t FROM toks WHERE sb >= 800 AND sb < 900),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
       |occ AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |w0 AS (SELECT CAST(b AS BIGINT) AS b,
       |    CAST(b * 2654435761 % 1997 - 998 AS BIGINT) AS w
       |  FROM (SELECT unnest(range(256)) AS b)),
       |${step(1)},
       |${step(2)},
       |sc AS (SELECT tk.y, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
       |  FROM va tk LEFT JOIN (SELECT occ.doc_id, sum(w2.w) AS mm
       |      FROM occ JOIN w2 ON w2.b = occ.b GROUP BY occ.doc_id) s
       |    ON s.doc_id = tk.doc_id)""".stripMargin
  }

  /** Two unrolled GD steps + scoring under the step-2 weights — the
    * classifier-lifecycle oracle, shared by q_linear_train_apply (chain
    * in-query) and q_linear_apply_from_model (weights served from the
    * stored model artifact; exact Long training round-trips parquet, so
    * the scores are identical by construction). Each step mirrors
    * logisticTrainN's Long arithmetic (truncation toward zero, hence the
    * sign CASE — DuckDB's // floors); doc count n is derived in-query so
    * one SQL text holds at every sf.
    */
  private lazy val lrTrainApplyCtes: String = {
    def step(i: Int): String = {
      val (wp, m, r, g, w) = (s"w${i - 1}", s"m$i", s"r$i", s"g$i", s"w$i")
      s"""$m AS (SELECT tk.doc_id, tk.y, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
         |  FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum($wp.w) AS mm
         |    FROM occ JOIN $wp ON $wp.b = occ.b GROUP BY occ.doc_id) s
         |  ON s.doc_id = tk.doc_id),
         |$r AS (SELECT doc_id, CAST(round((1.0/(1.0+exp(-CAST(mm AS DOUBLE)/1e6))
         |    - CAST(y AS DOUBLE))*1e6, 0) AS BIGINT) AS rm FROM $m),
         |$g AS (SELECT occ.b, CAST(sum($r.rm) AS BIGINT) AS gg
         |  FROM occ JOIN $r ON $r.doc_id = occ.doc_id GROUP BY occ.b),
         |$w AS (SELECT $wp.b, $wp.w - (CASE WHEN coalesce($g.gg, 0) >= 0
         |    THEN (1000000 * coalesce($g.gg, 0)) // (1000000 * cnt.n)
         |    ELSE -((-(1000000 * coalesce($g.gg, 0))) // (1000000 * cnt.n)) END) AS w
         |  FROM $wp LEFT JOIN $g ON $g.b = $wp.b CROSS JOIN cnt)""".stripMargin
    }
    s"""toks AS (SELECT doc_id, source,
       |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
       |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
       |  FROM documents),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |occ AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |w0 AS (SELECT CAST(b AS BIGINT) AS b,
       |    CAST(b * 2654435761 % 1997 - 998 AS BIGINT) AS w
       |  FROM (SELECT unnest(range(256)) AS b)),
       |${step(1)},
       |${step(2)}""".stripMargin
  }

  private lazy val LrTrainApplyOracleSql: Option[String] =
    Some(s"""WITH $lrTrainApplyCtes
            |SELECT tk.doc_id,
            |  CAST(coalesce(s.mm, 0) AS BIGINT) AS score_micro,
            |  CAST(len(tk.t) AS BIGINT) AS n_toks
            |FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum(w2.w) AS mm
            |    FROM occ JOIN w2 ON w2.b = occ.b GROUP BY occ.doc_id) s
            |  ON s.doc_id = tk.doc_id
            |ORDER BY tk.doc_id""".stripMargin)

  /** The stored classifier model (`q_linear_apply_from_model`) — the
    * registry artifact the ANN/dedup/BPE families already have: the
    * two-step-trained 256-weight table parquet'd once per corpus
    * version, so every downstream scoring pass loads weights instead of
    * re-running training. Exact-integer training (logisticTrainN's Long
    * updates) round-trips parquet bit-for-bit.
    */
  private def materializedLrModelDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "lrmodel", Seq("_SUCCESS"))(
      storeLr(s, tFan(s, d, "documents"), _))

  /** The FROZEN classifier model — trained on the base slice only
    * (doc_id % 4 ≠ 3, the as-of slice every frozen artifact in the
    * registry shares). This is the model a drifted corpus outgrows: the
    * classifier registry's v0, served only while the drift gate does NOT
    * trip (the spec's frozen leg).
    */
  private def materializedLrBaseModelDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    ArtifactCache.dir(s, d, "documents", "lrbase", Seq("_SUCCESS"))(
      storeLr(s, t(s, d, "documents").filter(col("doc_id") % 4 =!= 3), _))

  /** Train the two-step classifier on `corpus` (label: source == src0)
    * and store its 256-row (bucket, w_micro) weight table in `dir` — the
    * ONE trainer behind the current-corpus and the frozen model.
    */
  private def storeLr(s: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    import s.implicits._
    val trained = TextAnalysis.logisticTrainN(corpus, "text",
      when(col("source") === "src0", 1L).otherwise(0L),
      LrInitWeights, steps = 2, lrMicro = 1000000L, n = corpus.count())
    trained.zipWithIndex.map { case (w, b) => (b.toLong, w) }
      .toDF("bucket", "w_micro").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** DuckDB word-frequency histogram of the spaced form — the oracle twin
    * of `Bpe.wordHistogram` (words = `|`-separated segments, guard-spaced,
    * weighted by corpus frequency). Used as a CTE by q_bpe_train_hist.
    */
  private val bpeHistSql =
    s"""hist AS (
       |  SELECT ' ' || trim(w0) || ' ' AS word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split($bpeBaseSql, '|')) AS w0 FROM documents)
       |  WHERE trim(w0) <> '' GROUP BY 1)""".stripMargin

  /** DuckDB pair-count-top-16 for one training round derived from the
    * HISTOGRAM (frequency-weighted, no corpus rescan) — the SQL twin of
    * `Bpe.pairCountsHist(hist, BpeMerges.take(nApplied)).limit(16)`.
    */
  private def bpeHistRoundSql(round: Int, nApplied: Int): String = {
    val ap = BpeMerges.take(nApplied).foldLeft("word") { case (acc, (x, y)) =>
      s"replace($acc, ' $x $y ', ' $x$y ')"
    }
    s"""(SELECT $round AS round, pr[1] AS x, pr[2] AS y, sum(cnt) AS c
       |  FROM (SELECT cnt, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
       |        FROM (SELECT cnt, string_split(trim($ap), ' ') AS l FROM hist))
       |  WHERE pr[1] <> '' AND pr[2] <> ''
       |  GROUP BY 2, 3 ORDER BY c DESC, x, y LIMIT 16)""".stripMargin
  }

  /** The three BPE training rounds over the ONE-scan word histogram
    * (q_bpe_train, q_bpe_train_hist), shaped like Bpe.trainMergesHist: the
    * histogram is persisted so every round reads it instead of re-deriving
    * it from the corpus (vocab-bounded, spills to disk past memory), and
    * it is released once the 48 result rows are collected — no cached
    * block outlives the builder.
    */
  private def bpeTrainRounds(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Persisted.collect(Bpe.wordHistogram(t(s, d, "documents"), col("text"))) { hist =>
      (1 to 3).map { r =>
        Bpe.pairCountsHist(hist, BpeMerges.take(16 * (r - 1)))
          .orderBy(col("c").desc, col("x").asc, col("y").asc)
          .limit(16)
          .select(lit(r.toLong).as("round"), col("x"), col("y"),
            col("c").cast("long").as("c"))
      }.reduce(_ unionAll _)
        .orderBy(col("round"), col("c").desc, col("x"), col("y"))
    }

  /** DuckDB BM25 oracle CTE (k1=1.2, b=0.75, scores in integer micros),
    * mirroring Bm25.scoreMicros literal-for-literal — same association
    * order, CASTs on every decimal literal (DuckDB decimals would
    * otherwise change the float arithmetic), ln == Spark's log.
    */
  private def bm25Sql(tail: String): String = {
    val in = bm25Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
       |    string_split(lower(text), ' ') AS toks FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS term FROM base)
       |  WHERE term IN ($in) GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |scored AS (SELECT tf.doc_id, CAST(sum(CAST(round(
       |    ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
       |    * ((tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
       |       / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl)))
       |    * CAST(1e6 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM tf JOIN df USING (term) CROSS JOIN stats
       |  GROUP BY tf.doc_id)
       |$tail""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- deduplication --------------------------------------------------

    Q("q_dedup_exact",
      Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
             |  CAST(count(*) AS BIGINT) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
      (s, d) =>
        Dedup.exact(t(s, d, "documents"), "text", "doc_id").orderBy("keep_id")),

    // Incremental (ingestion-shaped) dedup: new batch = sources != src0,
    // corpus = src0. Corpus reduces to distinct digests; anti-join keeps
    // unseen content only.
    Q("q_dedup_incr",
      Some("""WITH seen AS (
             |  SELECT DISTINCT sha256(text) AS content_hash FROM documents WHERE source = 'src0'),
             |newd AS (
             |  SELECT doc_id, sha256(text) AS content_hash FROM documents WHERE source <> 'src0')
             |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
             |  CAST(count(*) AS BIGINT) AS n_copies
             |FROM newd WHERE content_hash NOT IN (SELECT content_hash FROM seen)
             |GROUP BY content_hash ORDER BY keep_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.exactIncremental(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text", "doc_id").orderBy("keep_id")
      }),

    // Incremental near-dedup: new-batch docs that near-duplicate a corpus
    // doc (LSH candidates new x corpus only, exact bounded-Jaccard
    // verify). ORACLED (promoted round 10) by the exact new x corpus
    // pairs: the final verify is exact Jaccard >= 0.9, and at j >= 0.9
    // with r=6/b=21 a true pair escapes every band w.p. (1-0.9^6)^21 ~
    // 1.2e-7 — the same completeness argument that keeps q_dedup_minhash
    // hash-green. Oracle cost is inverted-index Σ df² (see duckPairCtes —
    // feasible at sf0.1); candidate cost in Spark stays band-bucketed.
    Q("q_dedup_incr_near",
      Some(s"""WITH sh AS (SELECT doc_id, source, $duckShingles AS s FROM documents),
              |shn AS (SELECT doc_id, len(s) AS n FROM sh),
              |tokn AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0'),
              |toko AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source = 'src0'),
              |co AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS c
              |  FROM tokn n JOIN toko o ON n.g = o.g GROUP BY 1, 2)
              |SELECT new_id, old_id, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jac
              |FROM co JOIN shn na ON na.doc_id = new_id
              |        JOIN shn nb ON nb.doc_id = old_id
              |WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.9
              |ORDER BY new_id, old_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.minHashIncrementalHashed(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", Dedup.shinglesHashed(col("text"), 5), threshold = 0.9)
          .orderBy("new_id", "old_id")
      }),

    // MinHash-LSH near-dedup, verified with exact Jaccard: with k=126,
    // bands=21 (r=6) a true pair at j>=0.9 is missed w.p. ~1e-7, so the
    // output equals the exact all-pairs oracle; background pairs (j~0.2)
    // become candidates at ~1.3e-3, keeping verification near-linear.
    Q("q_dedup_minhash",
      Some(s"""WITH ${duckPairCtes("0.7")}
              |SELECT id_a, id_b, jac FROM p ORDER BY id_a, id_b""".stripMargin),
      (s, d) =>
        Dedup.minHashPairsHashed(t(s, d, "documents"), "doc_id",
            Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
          .orderBy("id_a", "id_b")),

    // Pairs -> clusters: connected components over the near-dup pair
    // graph (min-label propagation, O(diameter) keyed shuffles), every
    // paired doc mapped to its cluster's smallest id. The oracle computes
    // the same components with a recursive CTE over the exact all-pairs
    // graph (LSH completeness at these thresholds established by
    // q_dedup_minhash's equivalence).
    // Native recursive CTE (Spark 4 WITH RECURSIVE) computing the same
    // near-dup closure — the reference rejects the clause outright
    // (queryplanner.rs:39-47); here it runs. Spark supports UNION ALL
    // recursion only, so the closure is min-label propagation: labels
    // spread only to LARGER-id vertices (the component min is the unique
    // survivor of the final min()), per-level DISTINCT keeps the frontier
    // set-sized, and the depth guard bounds iteration the way
    // resolveClusters' maxIter does — near-dup components are planted
    // clique-ish clusters of diameter 1-2, so depth 12 is a wide margin.
    // The DuckDB oracle runs the true UNION fixpoint over the exact
    // all-pairs graph; hash-equality IS the convergence check.
    Q("q_recursive_cte",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v)
              |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
              |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val pairs = Dedup.minHashPairsHashed(t(s, d, "documents"), "doc_id",
          Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
        val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
          .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
          // materialize: UnionLoop re-evaluates the recursion input every
          // level — without this the whole MinHash pipeline would rerun
          // per iteration (measured 16 s -> ~3 s at sf0.1)
          .localCheckpoint()
        // Right-size the recursion input AFTER materialization (r21):
        // the checkpoint inherits the band-join's shuffle partitioning
        // (session partition count), so every UnionLoop level re-joined
        // ~32 near-empty partitions — at a dozen levels that is hundreds
        // of 10 ms tasks for a pair set thousands of times smaller than
        // the corpus. The count is free (blocks are local), the coalesce
        // is narrow (no shuffle), and the target keeps ~200k edges per
        // partition, so a genuinely large pair set keeps its
        // parallelism — only the empty tail collapses.
        val nParts = edges.rdd.getNumPartitions
        val target = math.max(1L, math.min(nParts.toLong,
          (edges.count() + 199999L) / 200000L)).toInt
        (if (target < nParts) edges.coalesce(target) else edges)
          .createOrReplaceTempView("graft_rcte_edges")
        // Spark bounds WITH RECURSIVE at 1M cumulative rows by default —
        // the sf1 soak hit it (RECURSION_ROW_LIMIT_EXCEEDED). Raise the
        // guard for this demo query; the real scale path for connected
        // components is Dedup.resolveClusters (O(diameter) min-label
        // propagation), and this query exists to pin Spark's native CTE
        // against it, not to be the 100 TB path.
        s.conf.set("spark.sql.cteRecursionRowLimit", "50000000")
        s.sql("""WITH RECURSIVE reach(v, r, d) AS (
                |  SELECT DISTINCT a AS v, a AS r, 0 AS d FROM graft_rcte_edges
                |  UNION ALL
                |  SELECT DISTINCT e.a, reach.r, reach.d + 1
                |  FROM graft_rcte_edges e JOIN reach ON e.b = reach.v
                |  WHERE reach.r < e.a AND reach.d < 12)
                |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
                |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)
      }),

    Q("q_dedup_clusters",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v)
              |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
              |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val pairs = Dedup.minHashPairsHashed(t(s, d, "documents"), "doc_id",
          Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
        Dedup.resolveClusters(pairs, "id_a", "id_b")
          .select(col("v").as("doc_id"), col("cluster_rep"))
          .orderBy("doc_id")
      }),

    // Cluster-canonical selection — the curation end of near-dedup: keep
    // each cluster's BEST copy (highest n_chars, ties to smallest id)
    // instead of the smallest id, via one partial-aggregable
    // max(struct(quality, -id)) per cluster (no window). Oracle re-derives
    // the clusters with the recursive closure and arg-maxes with a window
    // rank.
    Q("q_dedup_canonical",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v),
              |cl AS (SELECT v, CAST(min(r) AS BIGINT) AS cluster_rep
              |       FROM reach GROUP BY v),
              |j AS (SELECT cl.cluster_rep, cl.v, CAST(d.n_chars AS BIGINT) AS q
              |      FROM cl JOIN documents d ON d.doc_id = cl.v)
              |SELECT cluster_rep, v AS canonical_id, q AS quality FROM (
              |  SELECT cluster_rep, v, q, row_number() OVER (
              |    PARTITION BY cluster_rep ORDER BY q DESC, v) AS rn FROM j)
              |WHERE rn = 1 ORDER BY cluster_rep, canonical_id, quality""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashPairsHashed(docs, "doc_id",
          Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
        val clusters = Dedup.resolveClusters(pairs, "id_a", "id_b")
        Dedup.canonicalPerCluster(clusters, "v", "cluster_rep",
            docs.select(col("doc_id"), col("n_chars").cast("long").as("q")),
            "doc_id", "q")
          .select(col("cluster_rep"), col("canonical_id"),
            col("quality").as("quality"))
          .orderBy("cluster_rep", "canonical_id", "quality")
      }),

    // The APPLY end of near-dedup — the deduplicated CORPUS itself:
    // every doc whose cluster representative is a different doc is
    // dropped by an id-only anti-join (documents never move); non-paired
    // docs pass through untouched. Pairs → clusters → apply is the full
    // near-dedup lifecycle on the scoreboard.
    Q("q_dedup_apply",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v),
              |losers AS (SELECT v FROM reach GROUP BY v HAVING v <> min(r))
              |SELECT d.doc_id, d.source FROM documents d
              |WHERE d.doc_id NOT IN (SELECT v FROM losers)
              |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashPairsHashed(docs, "doc_id",
          Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
        Dedup.dropNearDuplicates(
            docs.select(col("doc_id"), col("source")), pairs, "doc_id")
          .orderBy("doc_id")
      }),

    // Same apply step, but each cluster keeps its BEST copy (highest
    // n_chars, ties to smallest id) — what a curation run actually wants:
    // the near-dup group usually holds one clean original and N degraded
    // copies, and min-id deletion would keep an arbitrary one.
    Q("q_dedup_apply_best",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v),
              |cl AS (SELECT v, min(r) AS rep FROM reach GROUP BY v),
              |best AS (SELECT v FROM (
              |  SELECT cl.v, row_number() OVER (PARTITION BY cl.rep
              |    ORDER BY d.n_chars DESC, cl.v) AS rn
              |  FROM cl JOIN documents d ON d.doc_id = cl.v) WHERE rn = 1),
              |losers AS (SELECT v FROM cl WHERE v NOT IN (SELECT v FROM best))
              |SELECT d.doc_id, d.source FROM documents d
              |WHERE d.doc_id NOT IN (SELECT v FROM losers)
              |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashPairsHashed(docs, "doc_id",
          Dedup.shinglesHashed(col("text"), 5), threshold = 0.7, k = 126, bands = 21)
        Dedup.dropNearDuplicatesKeepBest(
            docs.select(col("doc_id"), col("source"), col("n_chars")),
            pairs, "doc_id", col("n_chars"))
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      }),

    // The apply step as a production pipeline actually runs it: the
    // cluster table is computed ONCE and materialized to parquet (keyed
    // by the corpus file's identity, reused across invocations), and the
    // query itself is ONLY the id anti-join against the stored table —
    // vs q_dedup_apply, which re-runs the whole MinHash→LSH→clusters
    // chain inline every time (its bench line double-counts the chain).
    // Result is identical, so the oracle is the same recursive-closure
    // SQL; the bench minimum prices the apply alone.
    Q("q_dedup_apply_from_table",
      Some(s"""WITH RECURSIVE ${duckPairCtes("0.7")},
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach AS (
              |  SELECT a AS v, a AS r FROM e
              |  UNION
              |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.v),
              |losers AS (SELECT v FROM reach GROUP BY v HAVING v <> min(r))
              |SELECT d.doc_id, d.source FROM documents d
              |WHERE d.doc_id NOT IN (SELECT v FROM losers)
              |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = Tables.parquet(s, materializedClusterDir(s, d))
        docs.select(col("doc_id"), col("source"))
          .join(clusters.filter(col("v") =!= col("cluster_rep"))
              .select(col("v").as("doc_id")),
            Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      }),

    // Incremental CLUSTER-TABLE maintenance — the lifecycle step that
    // makes q_dedup_apply_from_table's artifact survive a nightly append
    // (a 100 TB ingest appends docs; it cannot re-run global connected
    // components). The base corpus (doc_id % 4 != 3) is clustered once
    // and STORED (ArtifactCache, the production nightly artifact); the
    // increment's near-dup pairs come from incremental LSH (new × corpus
    // + new × new — corpus × corpus candidates are never generated), and
    // Dedup.updateClusters merges them touching ONLY components with a
    // new edge: stored connectivity is replayed as member→rep star
    // edges, CC runs over stars ∪ new pairs, untouched rows pass through
    // an anti-join on their representative. Result is row-identical to
    // the full recompute over corpus+increment, so the oracle IS
    // q_dedup_clusters' recursive closure over ALL documents
    // (LSH completeness at j >= 0.9 as established by q_dedup_minhash).
    Q("q_dedup_clusters_incr", FullClosureOracleSql,
      (s, d) => {
        val docs = t(s, d, "documents")
        val sh = Dedup.shinglesHashed(col("text"), 5)
        val base = docs.filter(col("doc_id") % 4 =!= 3)
        val incr = docs.filter(col("doc_id") % 4 === 3)
        val art = materializedBaseClusterDir(s, d)
        val existing = Tables.parquet(s, art + "/clusters")
        // candidates from the STORED band table — the corpus is never
        // re-hashed in-query; verification reads candidate olds only
        val newPairs = Dedup.minHashIncrementalFromBands(incr, base,
            "doc_id", sh, Tables.parquet(s, art + "/bands"),
            threshold = 0.7, k = 126, bands = 21)
          .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
          .unionAll(Dedup.minHashPairsHashed(incr, "doc_id", sh,
              threshold = 0.7, k = 126, bands = 21)
            .select(col("id_a"), col("id_b")))
        Dedup.updateClusters(existing, newPairs)
          .select(col("v").as("doc_id"), col("cluster_rep"))
          .orderBy("doc_id")
      }),

    // The merge ROLLED FORWARD — the cluster-table lifecycle's third
    // verb (build → append-merge → compact), the dedup twin of
    // q_ann_index_compact: q_dedup_clusters_incr computes the merged
    // table in-query; a production nightly must WRITE it (plus the
    // corpus-complete band store) so tomorrow's append reads today's
    // merge as its base. The query prices the roll-forward's serve
    // side: one scan of the compacted cluster table, nothing else.
    // Row-identical to the in-query merge and to a full recompute
    // (frozen LSH), so the oracle is the same full-corpus closure.
    Q("q_dedup_clusters_compact", FullClosureOracleSql,
      (s, d) => {
        val dir = materializedCompactClusterDir(s, d)
        Tables.parquet(s, dir + "/clusters")
          .select(col("v").as("doc_id"), col("cluster_rep"))
          .orderBy("doc_id")
      }),

    // The cluster-table CYCLE — roll∘roll: two successive nightly
    // merges, each starting from the PREVIOUS night's rolled-forward
    // artifact (base on id%4∈{0,1}, night 1 merges id%4==2, night 2
    // merges id%4==3 against night 1's output). Frozen MinHash seeds +
    // monotone merges ⇒ the twice-rolled table equals the one-shot full
    // rebuild, so the oracle is the unchanged full closure — the
    // invariant that makes nightly maintenance sound at ANY depth, not
    // just for the single append q_dedup_clusters_compact pinned.
    Q("q_dedup_clusters_cycle", FullClosureOracleSql,
      (s, d) => {
        val dir = materializedClusterNight2Dir(s, d)
        Tables.parquet(s, dir + "/clusters")
          .select(col("v").as("doc_id"), col("cluster_rep"))
          .orderBy("doc_id")
      }),

    // Cross-document duplicated-token spans (ExactSubstr shape, Lee et
    // al. ACL '22): tokens covered by a word-13-gram occurring in >= 2
    // distinct docs, merged into maximal spans. Spark joins on 8-byte
    // rolling-poly gram hashes; the oracle re-derives the same spans from
    // the gram STRINGS — a hash collision would break the hash match, so
    // the oracle also pins collision-freeness at this scale.
    Q("q_dup_spans",
      Some("""WITH toks AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id,
             |    unnest([{'p': i-1, 'g': array_to_string(list_slice(t, i, i+12), ' ')}
             |            FOR i IN range(1, greatest(len(t)-11, 1))]) AS gr
             |  FROM toks WHERE len(t) >= 13),
             |g2 AS (SELECT doc_id, CAST(gr.p AS BIGINT) AS pos, gr.g AS g FROM grams),
             |dup AS (SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
             |flags AS (SELECT doc_id, pos,
             |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 12
             |         THEN 0 ELSE 1 END AS brk
             |  FROM g2 WHERE g IN (SELECT g FROM dup)),
             |isl AS (SELECT doc_id, pos,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |                   ROWS UNBOUNDED PRECEDING) AS island
             |  FROM flags)
             |SELECT doc_id, min(pos) AS span_start, max(pos) + 12 AS span_end,
             |  max(pos) + 12 - min(pos) + 1 AS span_tokens
             |FROM isl GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin),
      (s, d) =>
        Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
            k = 13, minDocs = 2)
          .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
            col("span_end").cast("long").as("span_end"),
            col("span_tokens").cast("long").as("span_tokens"))
          .orderBy("doc_id", "span_start")),

    // ExactSubstr dedup proper — the removal half of q_dup_spans: each
    // duplicated 13-gram's OWNER (smallest doc id containing it) keeps
    // its copy; tokens in other docs covered by that gram are cut and
    // documents are rebuilt from their surviving tokens.
    Q("q_cut_dup_spans",
      Some("""WITH toks AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id,
             |    unnest([{'p': i-1, 'g': array_to_string(list_slice(t, i, i+12), ' ')}
             |            FOR i IN range(1, greatest(len(t)-11, 1))]) AS gr
             |  FROM toks WHERE len(t) >= 13),
             |g2 AS (SELECT doc_id, CAST(gr.p AS BIGINT) AS pos, gr.g AS g FROM grams),
             |owners AS (SELECT g, min(doc_id) AS owner FROM g2
             |  GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
             |cut AS (SELECT DISTINCT g2.doc_id, unnest(range(pos, pos+13)) AS cpos
             |  FROM g2 JOIN owners USING (g) WHERE g2.doc_id <> owners.owner),
             |tp AS (SELECT doc_id, unnest(t) AS tok,
             |    unnest(range(len(t))) AS pos FROM toks),
             |kept AS (SELECT tp.* FROM tp
             |  WHERE NOT EXISTS (SELECT 1 FROM cut
             |    WHERE cut.doc_id = tp.doc_id AND cut.cpos = tp.pos))
             |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_toks
             |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Dedup.cutDuplicateSpans(t(s, d, "documents"), "doc_id", "text",
            k = 13, minDocs = 2)
          .orderBy("doc_id")),

    // Segment-level exact dedup + document reassembly (the line dedup of
    // C4/RefinedWeb, over fixed 10-token windows on this line-less
    // corpus): corpus-wide first occurrence of each distinct segment
    // survives, later copies are cut, docs are rebuilt from surviving
    // segments in order.
    Q("q_dedup_segments",
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |segs AS (SELECT doc_id,
             |    unnest([{'i': i, 's': array_to_string(list_slice(t, i*10+1, i*10+10), ' ')}
             |            FOR i IN range(0, (len(t)+9)//10)]) AS sg
             |  FROM toks WHERE len(t) > 0),
             |f AS (SELECT doc_id, CAST(sg.i AS BIGINT) AS seg_idx, sg.s AS s
             |  FROM segs WHERE sg.s <> ''),
             |w AS (SELECT *, row_number() OVER (PARTITION BY md5(s)
             |        ORDER BY doc_id, seg_idx) AS rn FROM f)
             |SELECT doc_id, string_agg(s, ' ' ORDER BY seg_idx) AS clean_text,
             |  count(*) AS n_segs
             |FROM w WHERE rn = 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Dedup.dedupSegments(t(s, d, "documents"), "doc_id", "text",
            segTokens = 10)
          .orderBy("doc_id")),

    // URL-canonicalization dedup — the first dedup pass of a web-crawl
    // pipeline. The corpus has no URLs, so representative ones are
    // synthesized deterministically per doc_id (the q_redact pattern):
    // mixed-case scheme/host, utm_* tracking params, a fragment. Spark
    // canonicalizes via the codegen'd parse_url builtin; the oracle
    // mirrors with regexes over the same synthesized string.
    Q("q_url_dedup",
      Some("""WITH urls AS (SELECT doc_id,
             |    'https://WWW.host' || (doc_id%7) || '.Example.COM/Path/' || (doc_id%50) ||
             |    '?utm_source=feed&utm_campaign=c' || (doc_id%3) || '&id=' || (doc_id%25) ||
             |    '#Sec' || doc_id AS url
             |  FROM documents),
             |parts AS (SELECT doc_id,
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
             |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             |    regexp_extract(url, '\?([^#]*)', 1) AS q
             |  FROM urls),
             |canon AS (SELECT doc_id,
             |    scheme || '://' || host || path ||
             |    CASE WHEN len(kept) = 0 THEN '' ELSE '?' || array_to_string(kept, '&') END
             |      AS canon_url
             |  FROM (SELECT *, list_filter(string_split(q, '&'),
             |          p -> NOT starts_with(p, 'utm_') AND p <> '') AS kept FROM parts))
             |SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
             |  CAST(count(*) AS BIGINT) AS n_copies
             |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin),
      (s, d) => {
        val urls = t(s, d, "documents").select(col("doc_id"),
          concat(lit("https://WWW.host"), col("doc_id") % 7,
            lit(".Example.COM/Path/"), col("doc_id") % 50,
            lit("?utm_source=feed&utm_campaign=c"), col("doc_id") % 3,
            lit("&id="), col("doc_id") % 25,
            lit("#Sec"), col("doc_id")).as("url"))
        UrlCanon.dedupByUrl(urls, "url", "doc_id").orderBy("canon_url")
      }),

    // Exact all-pairs baseline at a looser threshold (picks up the 0.3-0.5
    // band the LSH query's threshold excludes). Bounded to doc_id < 1000:
    // the O(n^2) form is the verification baseline, not the scale path —
    // at sf>=0.1 the corpus outgrows it by design (use q_dedup_minhash).
    Q("q_dedup_jaccard",
      Some(s"""WITH ${duckPairCtes("0.3", " WHERE doc_id < 1000")}
              |SELECT id_a, id_b, jac FROM p ORDER BY id_a, id_b""".stripMargin),
      (s, d) =>
        Dedup.exactJaccardPairsHashed(t(s, d, "documents").filter(col("doc_id") < 1000),
            "doc_id", Dedup.shinglesHashed(col("text"), 5), 0.3)
          .orderBy("id_a", "id_b")),

    // Directed shingle CONTAINMENT (quote/boilerplate detection): the
    // asymmetric relation Jaccard misses — a short doc embedded in a long
    // one. Inverted-index self-join sharded by shingle with a df<=64
    // stop-gram cap (part of the contract: both engines drop hot grams
    // BEFORE sizes/intersections, bounding per-shingle fan-out at df²).
    // Exact integer mills, no float division.
    Q("q_containment",
      Some(s"""WITH sh0 AS (SELECT doc_id, unnest($duckShingles) AS g FROM documents),
              |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh0 GROUP BY g) WHERE df <= 64),
              |sh AS (SELECT doc_id, list(g) AS s FROM sh0 WHERE g IN (SELECT g FROM rare) GROUP BY doc_id),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |        len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na
              |      FROM sh a JOIN sh b ON a.doc_id != b.doc_id)
              |SELECT id_a, id_b, CAST((inter * 1000) // na AS BIGINT) AS cont_milli
              |FROM p WHERE inter * 1000 >= 800 * na
              |ORDER BY id_a, id_b""".stripMargin),
      (s, d) =>
        Dedup.containmentPairs(t(s, d, "documents"), "doc_id",
            Dedup.shinglesHashed(col("text"), 5),
            thresholdMilli = 800, maxDf = 64)
          .orderBy("id_a", "id_b")),

    // SimHash near-dedup — rows-only (terminal set: SURVEY.md §2.3.1):
    // the fingerprint is built from
    // per-token xxhash64 bits, and DuckDB has no xxhash64; restating the
    // oracle over md5-derived bits would verify a DIFFERENT fingerprint
    // function, not the one this operator ships. The bit-majority
    // construction itself is oracled cross-engine by q_simhash_assign
    // (md5-based twin below); xxhash determinism is spec-pinned.
    // hashed_words produces the same per-token hashes as
    // tokens() + per-string xxhash64, with no token-array materialization.
    Q("q_dedup_simhash", None,
      (s, d) =>
        Dedup.simHashPairs(tFan(s, d, "documents"), "doc_id",
            graft.functions.hashed_words(col("text")), maxHamming = 3)
          .orderBy("id_a", "id_b")),

    // The ORACLED core of the SimHash path (the q_ivf_assign pattern):
    // the bit-majority fingerprint construction (Charikar '02) over an
    // engine-portable token hash — 56 md5 bits per token, bit b of the
    // fingerprint set iff the signed per-bit vote is positive. Pins
    // exactly the aggregation q_dedup_simhash's xxhash fingerprints use.
    // Spark side is ONE scan with 56 columnar bit-vote sums (the
    // SimHash64 expression's shape, no row explosion); the oracle may
    // explode rows x 56 — oracle cost is not production cost. Bounded to
    // 500 docs: the construction is per-row, more rows pin nothing new.
    Q("q_simhash_assign",
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents WHERE doc_id < 500),
             |h AS (SELECT doc_id,
             |    CAST(CAST('0x' || substr(md5(tok), 1, 14) AS BIGINT) AS BIGINT) AS h
             |  FROM tk),
             |bits AS (SELECT doc_id, r.range AS b,
             |    sum(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
             |  FROM h, range(56) r GROUP BY doc_id, r.range)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash56
             |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val h = t(s, d, "documents").filter(col("doc_id") < 500)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
          .select(col("doc_id"),
            conv(substring(md5(col("tok")), 1, 14), 16, 10).cast("long").as("h"))
        val votes = (0 until 56).map(b =>
          sum(when(expr(s"(shiftright(h, $b) & 1)") === 1, 1L).otherwise(-1L)).as(s"s$b"))
        val fp = (0 until 56).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
        h.groupBy("doc_id").agg(votes.head, votes.tail: _*)
          .select(col("doc_id"), fp.as("simhash56"))
          .orderBy("doc_id")
      }),

    // Embedding-cosine near-dup pairs (threshold below this corpus's max
    // pairwise cosine of ~0.51 so the answer is non-empty).
    Q("q_embed_pairs",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin),
      (s, d) =>
        Dedup.cosinePairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.45)
          .orderBy("id_a", "id_b")),

    // Pairwise L2 distance via the codegen'd EuclideanDistance expression.
    // floor (not round) micros: floor is exact on identical double bits in
    // both engines, where round's tie-breaking is engine-specific.
    Q("q_embed_l2",
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  CAST(floor(list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS dist_micros
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE a.vec_id < 25 AND b.vec_id < 25
             |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => {
        val e1 = t(s, d, "embeddings")
          .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
          .filter(col("id_a") < 25)
        val e2 = t(s, d, "embeddings")
          .select(col("vec_id").as("id_b"), col("embedding").as("eb"))
          .filter(col("id_b") < 25)
        e1.join(e2, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            floor(graft.functions.euclidean_dist(col("ea"), col("eb")) * lit(1e6))
              .as("dist_micros"))
          .orderBy("id_a", "id_b")
      }),

    // Scalar (min-max) int8 quantization of embeddings — the storage-side
    // compression of a vector store (4x smaller, recall-neutral for
    // re-ranked search). Emitted as exact integers: per-vector scale params
    // in floored micros plus the code checksum, so the oracle comparison
    // is bit-stable (floor, never round — FIXTURES.md §5).
    Q("q_embed_quantize",
      Some("""SELECT vec_id,
             |  CAST(floor(CAST(list_min(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS lo_micros,
             |  CAST(floor(CAST(list_max(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS hi_micros,
             |  CAST(list_aggregate(list_transform(embedding,
             |    x -> CAST(floor((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) * 255
             |         / (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))) AS BIGINT)), 'sum') AS BIGINT) AS code_sum
             |FROM embeddings ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val lo = array_min(col("embedding")).cast("double")
        val hi = array_max(col("embedding")).cast("double")
        t(s, d, "embeddings")
          .select(col("vec_id"),
            floor(lo * lit(1e6)).as("lo_micros"),
            floor(hi * lit(1e6)).as("hi_micros"),
            aggregate(
              transform(col("embedding"),
                x => floor((x.cast("double") - lo) * 255 / (hi - lo))),
              lit(0L), (acc, x) => acc + x).as("code_sum"))
          .orderBy("vec_id")
      }),

    // Sparse signed random projection (Johnson–Lindenstrauss, Achlioptas
    // '03): 64 → 16 dims as exact-long micro folds, the map-side-only
    // embedding compression that runs before an ANN index build at corpus
    // scale (4× less shuffle/state downstream). FULLY oracled: DuckDB
    // re-derives the ternary weight matrix itself from md5("rp|seed|i|j")
    // inside a list comprehension — nothing crosses engines but the seed
    // string, so a Scala-side weight bug cannot self-confirm.
    Q("q_random_projection", {
      val projCols = (0 until 16).map { j =>
        val w = RandomProjection.weightSql("jl", "i", j.toString)
        f"  CAST(list_sum(list_transform(range(64), i -> mi[i+1] * $w)) AS BIGINT) AS p$j%02d"
      }.mkString(",\n")
      Some(s"""WITH m AS (
              |  SELECT vec_id, list_transform(embedding,
              |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS mi
              |  FROM embeddings)
              |SELECT vec_id,
              |$projCols
              |FROM m ORDER BY vec_id""".stripMargin)
    },
      (s, d) =>
        RandomProjection.project(t(s, d, "embeddings"),
            "vec_id", "embedding", dimIn = 64, dimOut = 16, seed = "jl")
          .orderBy("vec_id")),

    // Per-dimension embedding moments (VectorStats.moments): ONE
    // constant-buffer mergeable aggregate (count + two dim-length long
    // arrays) — the naive posexplode+groupBy(dim) alternative multiplies
    // the row count by dim and shuffles all of it; here nothing shuffles
    // but the buffers. Exact integer micro-units (floor, never round) so
    // the oracle — which DOES unnest, affordable in DuckDB at oracle
    // scale — matches bit-for-bit. Feeds VectorStats.standardize.
    Q("q_embed_moments",
      Some("""WITH m AS (
             |  SELECT CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS mi
             |  FROM embeddings)
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(mi) AS BIGINT) AS sum_micro,
             |  CAST(sum(mi * mi) AS BIGINT) AS sumsq_micro
             |FROM m GROUP BY dim ORDER BY dim""".stripMargin),
      (s, d) =>
        VectorStats.moments(t(s, d, "embeddings"), col("embedding"), dim = 64)
          .select(col("dim").cast("long").as("dim"), col("n"),
            col("sum_micro"),
            // operator emits decimal(38,0) (long wraps at ~9M rows of
            // 1e6-scale micros); long is exact at oracle scale and an
            // overflowing downcast ERRORS under ANSI instead of wrapping
            col("sumsq_micro").cast("long").as("sumsq_micro"))
          .orderBy("dim")),

    // Z-score standardization (VectorStats.standardize) — oracled even
    // though the output is doubles: mean/std derive from EXACT integer
    // moments, so every z is the same order-independent IEEE expression
    // in both engines; the oracle mirrors the formula op-for-op
    // (left-assoc divisions, greatest-with-0, sqrt) and compares the
    // per-vector sum of floor(z * 1000) — exact long arithmetic.
    Q("q_embed_standardize",
      Some("""WITH m AS (
             |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS mi
             |  FROM embeddings),
             |mo AS (
             |  SELECT dim, CAST(count(*) AS DOUBLE) AS n,
             |    CAST(sum(mi) AS DOUBLE) AS sm, CAST(sum(mi * mi) AS DOUBLE) AS sq
             |  FROM m GROUP BY dim),
             |st AS (
             |  SELECT dim, sm / n / 1000000.0 AS mu,
             |    sqrt(greatest(sq / n - (sm / n) * (sm / n), 0.0)) / 1000000.0 AS sd
             |  FROM mo)
             |SELECT m.vec_id, CAST(sum(CAST(floor((CASE WHEN st.sd = 0.0 THEN 0.0
             |    ELSE (CAST(m.mi AS DOUBLE) / 1000000.0 - st.mu) / st.sd END) * 1000.0) AS BIGINT)) AS BIGINT) AS z_milli_sum
             |FROM m JOIN st USING (dim)
             |GROUP BY m.vec_id ORDER BY vec_id""".stripMargin),
      (s, d) =>
        VectorStats.standardize(t(s, d, "embeddings"), col("embedding"), dim = 64)
          .select(col("vec_id"),
            aggregate(transform(col("std_vec"),
                z => floor(z * lit(1000.0)).cast("long")),
              lit(0L), (a, x) => a + x).as("z_milli_sum"))
          .orderBy("vec_id")),

    // Per-label centroid accumulation (the reduce step of k-means / class
    // prototypes): posexplode to (label, dim) and aggregate exact integer
    // micros — order-independent, so the result is identical at any
    // parallelism. The shuffle key (label, pos) has fixed small cardinality
    // (10 x 64), so partial aggregation collapses the fact-side volume.
    Q("q_embed_centroids",
      Some("""SELECT label, CAST(r.range AS INT) AS pos,
             |  CAST(sum(CAST(floor(CAST(embedding[CAST(r.range AS INT)+1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sum_micros,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM embeddings CROSS JOIN range(0, 64) r
             |GROUP BY label, pos ORDER BY label, pos""".stripMargin),
      (s, d) =>
        t(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(sum(floor(col("x").cast("double") * lit(1e6))).as("sum_micros"),
            count(lit(1)).as("n"))
          .orderBy("label", "pos")),

    // Scale-path cosine near-dup (16 sign-LSH band tables + exact
    // verify). ORACLED in full (promoted round 10): all 16 tables' bucket
    // bits are re-derived in DuckDB from literal hyperplanes and the
    // verify threshold uses the bit-mirrored cosine (OracleVec), so the
    // candidate set AND the accept decisions match exactly. Recall < 1 vs
    // the all-pairs q_embed_pairs; the approximate result is deterministic.
    Q("q_embed_pairs_lsh",
      Some {
        val tableBlocks = (0 until 16).map { tb =>
          val b = OracleVec.lshBucketSql("v", nPlanes = 6, dim = 64,
            tableSeed = 42L + tb * 7919L)
          s"SELECT vec_id, $tb AS tbl, $b AS bucket FROM e"
        }.mkString("\nUNION ALL\n")
        val cos = OracleVec.cosSql("ea.v", "eb.v")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |bt AS ($tableBlocks),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
           |  FROM bt a JOIN bt b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
           |    AND a.vec_id < b2.vec_id)
           |SELECT id_a, id_b FROM cand
           |JOIN e ea ON ea.vec_id = cand.id_a
           |JOIN e eb ON eb.vec_id = cand.id_b
           |WHERE $cos >= 0.45 ORDER BY id_a, id_b""".stripMargin
      },
      (s, d) =>
        Dedup.cosinePairsLsh(t(s, d, "embeddings"), "vec_id", "embedding",
            threshold = 0.45, nPlanes = 6, nTables = 16, dim = 64)
          .orderBy("id_a", "id_b")),

    // ---- similarity search ---------------------------------------------

    // Exact brute-force top-10 cosine neighbors for 5 query vectors.
    // Rank + ids only (sim values computed identically but float-formatting
    // differences across engines are not worth hashing).
    Q("q_embed_knn",
      Some("""SELECT q_id, c_id, rn FROM (
             |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |    CAST(row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(c.embedding AS DOUBLE[])) DESC,
             |               c.vec_id) AS BIGINT) AS rn
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
             |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // Hard-negative mining (contrastive-training prep): per query vector,
    // the top-10 most-similar vectors with a DIFFERENT label — the
    // confusable near-misses a dual encoder trains against. Same scale
    // shape as q_embed_knn (broadcast queries, scan-side label filter,
    // bounded partial-top-k heaps); rank+ids oracled like q_embed_knn.
    Q("q_hard_negatives",
      Some("""SELECT q_id, c_id, rn FROM (
             |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |    CAST(row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(c.embedding AS DOUBLE[])) DESC,
             |               c.vec_id) AS BIGINT) AS rn
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id < 5 AND c.label <> q.label)
             |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", "label", 10)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // LSH-bucketed ANN. ORACLED in full (promoted round 10): bucket bits,
    // hamming-1 probes, and the final cosine ranks are all re-derived in
    // DuckDB from first principles — the hyperplanes are embedded as
    // round-trip double literals and the cosine is mirrored bit-for-bit
    // via sequential list_reduce folds (OracleVec). Recall < 1 vs exact
    // KNN, but the approximate result itself is deterministic.
    Q("q_embed_knn_lsh",
      Some {
        val bucket = OracleVec.lshBucketSql("v", nPlanes = 6, dim = 64, tableSeed = 42L)
        val cos = OracleVec.cosSql("qv", "cv")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
           |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS b0 FROM b WHERE vec_id < 5),
           |pr AS (SELECT q_id, qv, unnest(list_concat([b0],
           |    list_transform([0, 1, 2, 3, 4, 5], pp -> xor(b0, 1 << pp)))) AS bucket FROM q),
           |cand AS (SELECT pr.q_id, pr.qv, b.vec_id AS c_id, b.v AS cv
           |  FROM pr JOIN b USING (bucket) WHERE b.vec_id <> pr.q_id),
           |r AS (SELECT q_id, c_id, CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY $cos DESC, c_id) AS BIGINT) AS rn FROM cand)
           |SELECT q_id, c_id, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin
      },
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshKnn(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, nPlanes = 6, dim = 64, nProbes = 7)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // IVF-style ANN. ORACLED in full (promoted round 10): the whole chain
    // — deterministic seeding, one exact-micro Lloyd step (integer sums
    // are order-invariant, so the trained centroids are bit-identical at
    // any parallelism), float-cast centroids, argmax cell assignment
    // (ties -> larger cell, mirroring array_max struct order), top-4
    // probes, and the final cosine ranks — is re-derived in DuckDB with
    // the bit-mirrored cosine (OracleVec). Recall < 1 vs q_embed_knn; the
    // approximate result is deterministic.
    Q("q_embed_knn_ivf", IvfOracleSql,
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // full IVF path: seed the quantizer with the first 16 vectors,
        // refine with one Lloyd iteration (kmeansStep), probe the trained
        // cells — centroids come from a (tiny) trained table, not a
        // corpus scan at query time
        val seed = Similarity.centroidRows(
          emb.filter(col("vec_id") < 16), "vec_id", "embedding")
        val trained = Similarity.kmeansStep(emb, "vec_id", "embedding", seed)
          .select(col("cell"),
            expr("transform(centroid, x -> cast(x as float))").as("centroid"))
        Similarity.ivfKnnWithCentroids(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, trained, "cell", "centroid", nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // The IVF index MATERIALIZED, query priced alone — the production
    // split every vector store runs (build offline, serve online), and
    // the ANN twin of q_dedup_apply_from_table: the trained centroid
    // table and the per-cell posting lists (vectors included, IVF-Flat)
    // are parquet'd once per corpus version — postings PARTITIONED BY
    // cell, so the probe join prunes unread cells at the file listing —
    // and the query pays only centroid routing + the probed lists' scan
    // + exact rescoring. Same trained quantizer, same assignment, same
    // ranks as q_embed_knn_ivf, so the oracle text is shared.
    Q("q_ann_from_index", IvfOracleSql,
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfIndexDir(s, d)
        Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // The IVF index APPEND — the other half of the artifact lifecycle
    // (q_dedup_clusters_incr is the dedup twin): the quantizer is trained
    // on the BASE corpus and frozen; appended vectors are assigned under
    // the stored centroids and land as a second postings generation
    // (postings/gen=1, still hive-partitioned by cell), so one scan of
    // the postings root serves both generations with cell pruning intact
    // and the append never rewrites the base build (staged markers,
    // ArtifactCache.staged). Frozen quantizer means appended == rebuilt
    // under the same centroids — exactly what the oracle computes: the
    // shared IVF chain with TRAINING restricted to the base slice and
    // assignment/probe/ranks over the whole corpus.
    Q("q_ann_index_incr", Some(ivfOracleSqlFor(" WHERE vec_id % 4 <> 3")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfIncrIndexDir(s, d)
        Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // The index COMPACTED — the third lifecycle verb after build (gen=0)
    // and append (gen=1): the accumulated generations rewritten into one
    // postings layout (pure I/O, no re-assignment — see
    // materializedIvfCompactIndexDir). The frozen quantizer means
    // compacted == appended == rebuilt, so the oracle is the same
    // base-trained IVF chain as q_ann_index_incr; what changes is the
    // served layout: one parquet segment per cell again, cell pruning
    // intact, per-query open cost back to the single-generation floor.
    Q("q_ann_index_compact", Some(ivfOracleSqlFor(" WHERE vec_id % 4 <> 3")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfCompactIndexDir(s, d)
        Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // APPEND → APPEND: the store after TWO nightly appends under the
    // frozen night-0 quantizer (generations gen=0/1/2, each landed by
    // the same generation-counter append stage — ArtifactCache.nextGen).
    // One read of postings/ discovers (gen, cell); cell pruning holds
    // across all three generations. Frozen quantizer ⇒ the store equals
    // a full rebuild trained on the night-0 base, which is exactly the
    // oracle (training CTEs restricted to id % 4 < 2, everything else
    // over the whole corpus).
    Q("q_ann_index_nights", Some(ivfOracleSqlFor(" WHERE vec_id % 4 < 2")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfNightsDir(s, d)
        Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // COMPACT → APPEND — the lifecycle CYCLE closed: night 1 compacted
    // to gen=0, night 2 appended INTO the compacted store as gen=1 (the
    // generation counter restarts because compaction collapsed history;
    // see materializedIvfCycleDir). Same frozen quantizer ⇒ same oracle
    // as q_ann_index_nights: cycled == appended-twice == rebuilt, the
    // invariant that makes nightly maintenance sound at any depth.
    Q("q_ann_index_cycle", Some(ivfOracleSqlFor(" WHERE vec_id % 4 < 2")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfCycleDir(s, d)
        Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // The REFRESH TRIGGER readout — the cell-occupancy histogram of the
    // FROZEN append-only store (q_ann_index_incr's postings, both
    // generations), with each cell's corpus share and its fill ratio vs
    // fair share as exact integer micros. This is the drift alarm a
    // production vector store monitors after every append: the decision
    // input q_ann_refresh acts on, oracled on its own (the SkewStats
    // shape applied to the index layout). Bounded: ≤ k cells out of one
    // partial-aggregable count over the postings scan.
    Q("q_ann_refresh_trigger",
      Some(s"""WITH ${ivfOracleCtesFor(" WHERE vec_id % 4 <> 3")},
              |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
              |  FROM corp GROUP BY cell),
              |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cent),
              |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t FROM cnt)
              |SELECT CAST(cnt.cell AS BIGINT) AS cell, n_vecs,
              |  CAST((1000000 * n_vecs) // t AS BIGINT) AS share_micro,
              |  CAST((1000000 * n_vecs * kk.k) // t AS BIGINT) AS ratio_mean_micro
              |FROM cnt, tot, kk ORDER BY cell""".stripMargin),
      (s, d) => {
        import s.implicits._
        cellOccupancy(s, materializedIvfIncrIndexDir(s, d), "postings")
          .toDF("cell", "n_vecs", "share_micro", "ratio_mean_micro")
          .orderBy("cell")
      }),

    // The SECOND refresh signal's readout — the sampled recall-proxy of
    // the FROZEN append-only store: recall@10 over the deterministic
    // md5-ordered probe set (first RecallProbeK vectors by md5 order —
    // a FIXED count, so the trigger's exact pass stays O(K·N) with a
    // constant-size broadcast at any corpus scale) vs brute-force cosine.
    // Occupancy skew (q_ann_refresh_trigger) misses a drifted corpus
    // whose cells stay BALANCED while the base-trained centroids are
    // uniformly wrong; recall decay is the alarm that catches it, and
    // ivfNeedsRefresh fires on EITHER signal (wiring spec-pinned in
    // SimilaritySpec). Oracle: the base-trained IVF chain with the
    // sampled query set, intersected with the exact top-10 — both sides
    // deterministic chains, so the intersection hashes.
    Q("q_ann_refresh_recall",
      Some(s"""WITH ${ivfOracleCtesFor(" WHERE vec_id % 4 <> 3",
                 sampleQWhereSql("e.vec_id"))},
              |ak AS (SELECT q_id, c_id FROM r WHERE rn <= 10),
              |ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |                                      CAST(c.embedding AS DOUBLE[])) DESC,
              |               c.vec_id) AS xrn
              |  FROM embeddings q JOIN embeddings c
              |    ON ${sampleQWhereSql("q.vec_id")} AND c.vec_id <> q.vec_id),
              |exk AS (SELECT q_id, c_id FROM ex WHERE xrn <= 10),
              |h AS (SELECT exk.q_id,
              |    CAST(coalesce(sum(CASE WHEN ak.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
              |  FROM exk LEFT JOIN ak ON ak.q_id = exk.q_id AND ak.c_id = exk.c_id
              |  GROUP BY exk.q_id)
              |SELECT q_id, n_hits, CAST(n_hits * 100000 AS BIGINT) AS recall_micro
              |FROM h ORDER BY q_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = probeSet(emb)
        val idx = materializedIvfIncrIndexDir(s, d)
        val approx = Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"), queries,
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
        Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
          .select("q_id", "c_id")
          .join(approx, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
          .orderBy("q_id")
      }),

    // The model-REFRESH verb — the only lifecycle edge the store was
    // missing: build → append → compact all pin the quantizer FROZEN,
    // but a store that only appends never retrains, and recall decays as
    // the corpus outgrows the base-trained centroids. q_ann_refresh
    // serves the CURRENT version of materializedIvfRegistryDir, whose
    // trigger reads the frozen store's cell histogram (the
    // q_ann_refresh_trigger readout) and, past it, retrains on the
    // CURRENT corpus and re-encodes every vector into v1 before the
    // pointer flips. The registered query forces the refresh (threshold
    // 0) so the oracle prices the full path; refreshed ==
    // built-from-scratch by shared builder, so the oracle is the
    // UNRESTRICTED full-corpus IVF chain — and SimilaritySpec pins
    // recall(refreshed) >= recall(frozen).
    Q("q_ann_refresh", IvfOracleSql, serveIvfCurrent),

    // SERVE THROUGH THE POINTER — q_ann_refresh's body under its registry
    // name: the consumer reads the CURRENT pointer and queries that
    // version whole. The serve runs after gc, so the row also proves gc
    // spared the pointed version. SimilaritySpec pins serve-current ==
    // the built-from-scratch index (q_ann_from_index).
    Q("q_ann_serve_current", IvfOracleSql, serveIvfCurrent),

    // The registry INVENTORY after the full lifecycle (build v0 →
    // refresh to v1 → pointer flip → GC): exactly one version must
    // remain, it must be the pointed one, and it must hold the WHOLE
    // current corpus. The readout lists the surviving v<N> dirs and
    // counts their postings — a bounded registry scan (≤ #versions
    // driver rows; each count is one pruned parquet count) — so a
    // leaked unretired version or a GC'd current version both break the
    // hash, making the retention contract itself oracle-checked.
    Q("q_ann_registry_versions",
      Some("""SELECT 'v1' AS version, CAST(1 AS BIGINT) AS is_current,
             |  CAST(count(*) AS BIGINT) AS n_vecs
             |FROM embeddings ORDER BY version""".stripMargin),
      (s, d) => {
        import s.implicits._
        val reg = materializedIvfRegistryDir(s, d)
        val cur = ArtifactCache.current(s, reg)
        ArtifactCache.versions(s, reg).map { v =>
          (v, if (v == cur) 1L else 0L,
            Tables.parquet(s, s"$reg/$v/postings").count())
        }.toDF("version", "is_current", "n_vecs")
          .orderBy("version")
      }),

    // The REGISTRY HEALTH dashboard — one row per trained-artifact
    // family (bpe / ivf / lr / pq): the pointed version, how many
    // versions survive retention, how many generations the backing
    // append store holds (ivf/pq freeze a 2-generation incr store; the
    // model families have no generation axis), and the row count of the
    // pointed payload. This is the q_ann_registry_versions contract
    // widened across ALL four families — the single query an operator
    // watches to see that every refresh flipped, every GC ran, and
    // every served artifact is whole. Bounded by contract: 4 pointer
    // reads + 4 dir listings + 2 generation listings + 4 pruned
    // parquet counts; no data-scaled driver rows. Oracle: the expected
    // terminal state under default gates — pointed v1 everywhere,
    // exactly one surviving version, 2 frozen generations per ANN
    // store, payloads = whole corpus (ivf/pq), the 48-merge tokenizer
    // (16/round x 3 rounds), the 256-bucket classifier weight table.
    Q("q_registry_audit",
      Some("""SELECT * FROM (
             |  SELECT 'bpe' AS family, 'v1' AS pointed,
             |    CAST(1 AS BIGINT) AS n_versions, CAST(0 AS BIGINT) AS n_gens,
             |    CAST(48 AS BIGINT) AS n_rows
             |  UNION ALL SELECT 'ivf', 'v1', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
             |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
             |  UNION ALL SELECT 'lr', 'v1', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             |    CAST(256 AS BIGINT)
             |  UNION ALL SELECT 'pq', 'v1', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
             |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
             |) ORDER BY family""".stripMargin),
      (s, d) => {
        import s.implicits._
        def audit(family: String, reg: String, nGens: Long,
            payload: String => String): (String, String, Long, Long, Long) = {
          val cur = ArtifactCache.current(s, reg)
          (family, cur, ArtifactCache.versions(s, reg).size.toLong, nGens,
            Tables.parquet(s, payload(s"$reg/$cur")).count())
        }
        Seq(
          audit("bpe", materializedBpeRegistryDir(s, d), 0L, identity),
          audit("ivf", materializedIvfRegistryDir(s, d),
            ArtifactCache.nextGen(s, materializedIvfIncrIndexDir(s, d),
              "postings").toLong, _ + "/postings"),
          audit("lr", materializedLrRegistryDir(s, d), 0L, identity),
          audit("pq", materializedIvfPqRegistryDir(s, d),
            ArtifactCache.nextGen(s, materializedIvfPqIncrIndexDir(s, d),
              "codes").toLong, _ + "/codes"))
          .toDF("family", "pointed", "n_versions", "n_gens", "n_rows")
          .orderBy("family")
      }),

    // EVALUATION of the served ANN index — recall@10 of the stored
    // IVF-Flat index's answers against exact brute-force cosine top-10,
    // the health metric a production vector store monitors after every
    // build/append/compact (approximate indexes silently lose recall
    // when the quantizer drifts from the data; this query is the alarm).
    // Per query vector: |IVF top-10 ∩ exact top-10| as an exact integer
    // — both sides are deterministic oracled chains (q_ann_from_index,
    // q_embed_knn), so their INTERSECTION hashes too; recall_micro is
    // hits·1e6/10, an exact integer multiple. Scale shape: the exact
    // side is the 5-query broadcast KNN (bounded partial-top-k heaps);
    // the join is 50 rows against 50.
    Q("q_ann_recall",
      Some(s"""WITH ${ivfOracleCtesFor("")},
              |ak AS (SELECT q_id, c_id FROM r WHERE rn <= 10),
              |ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |                                      CAST(c.embedding AS DOUBLE[])) DESC,
              |               c.vec_id) AS xrn
              |  FROM embeddings q JOIN embeddings c
              |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
              |exk AS (SELECT q_id, c_id FROM ex WHERE xrn <= 10),
              |h AS (SELECT exk.q_id,
              |    CAST(coalesce(sum(CASE WHEN ak.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
              |  FROM exk LEFT JOIN ak ON ak.q_id = exk.q_id AND ak.c_id = exk.c_id
              |  GROUP BY exk.q_id)
              |SELECT q_id, n_hits, CAST(n_hits * 100000 AS BIGINT) AS recall_micro
              |FROM h ORDER BY q_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val idx = materializedIvfIndexDir(s, d)
        val approx = Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"), queries,
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
        Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
          .select("q_id", "c_id")
          .join(approx, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
          .orderBy("q_id")
      }),

    // The recall-vs-nProbe OPERATING CURVE — the tuning table every IVF
    // deployment is configured from: recall@10 of the served index at
    // nProbe = 1..4, per query vector. Widening the probe set only ADDS
    // candidates, so recall is monotone in n_probe and converges on
    // q_ann_recall's column at 4 (both laws spec-pinned). The oracle
    // derives all four levels from ONE instantiation of the shared IVF
    // chain — cand carries the probe rank, and each level re-ranks the
    // candidates with pr <= p — so the curve costs one chain, not four.
    // The Spark side prices what an operator would actually run: four
    // probes of the stored index (cell-pruned scans), each a tiny
    // 50-row compare against the exact baseline.
    Q("q_ann_probe_curve",
      Some(s"""WITH ${ivfOracleCtesFor("")},
              |lv AS (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS n_probe),
              |rp AS (SELECT lv.n_probe, cand.q_id, cand.c_id,
              |    CAST(row_number() OVER (PARTITION BY lv.n_probe, cand.q_id
              |      ORDER BY ${OracleVec.cosSql("qv", "cvv")} DESC, cand.c_id) AS BIGINT) AS rn
              |  FROM cand, lv WHERE cand.pr <= lv.n_probe),
              |ak AS (SELECT n_probe, q_id, c_id FROM rp WHERE rn <= 10),
              |ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |                                      CAST(c.embedding AS DOUBLE[])) DESC,
              |               c.vec_id) AS xrn
              |  FROM embeddings q JOIN embeddings c
              |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
              |exk AS (SELECT q_id, c_id FROM ex WHERE xrn <= 10),
              |h AS (SELECT lv.n_probe, exk.q_id,
              |    CAST(coalesce(sum(CASE WHEN ak.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
              |  FROM exk CROSS JOIN lv
              |  LEFT JOIN ak ON ak.n_probe = lv.n_probe
              |    AND ak.q_id = exk.q_id AND ak.c_id = exk.c_id
              |  GROUP BY lv.n_probe, exk.q_id)
              |SELECT n_probe, q_id, n_hits,
              |  CAST(n_hits * 100000 AS BIGINT) AS recall_micro
              |FROM h ORDER BY n_probe, q_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val idx = materializedIvfIndexDir(s, d)
        val postings = Tables.parquet(s, idx + "/postings")
        val centroids = Tables.parquet(s, idx + "/centroids")
        val exact = Similarity.bruteForceKnn(emb, queries,
          "vec_id", "embedding", 10).select("q_id", "c_id")
        (1 to 4).map { p =>
          val approx = Similarity.ivfKnnFromIndex(postings, queries,
              "vec_id", "embedding", k = 10, centroids, "cell", "centroid",
              nProbe = p)
            .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
          exact.join(approx, Seq("q_id", "c_id"), "left")
            .groupBy("q_id")
            .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
            .select(lit(p.toLong).as("n_probe"), col("q_id"), col("n_hits"))
        }.reduce(_ unionAll _)
          .select(col("n_probe"), col("q_id"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
          .orderBy("n_probe", "q_id")
      }),

    // The ORACLED core of the IVF path: coarse-cell ASSIGNMENT (the
    // routing step every inverted-file query and every Lloyd iteration
    // depends on), made cross-engine exact by doing it in integer micro
    // space — floor(x*1e6) is bit-stable on identical doubles, integer
    // squared-L2 sums are order-invariant at any parallelism. Centroids
    // are the 16 smallest-vec_id vectors (the same deterministic seeding
    // q_embed_knn_ivf trains from), broadcast as a fixed-cardinality dim
    // table; argmin via min(struct(dist, cell)) — ONE scan, no shuffle
    // beyond the final tiny argmin aggregate. Final ANN ranks stay
    // rows-only (q_embed_knn_ivf); the routing they depend on now hashes.
    Q("q_ivf_assign",
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
             |  FROM embeddings),
             |c AS (SELECT vec_id AS cell, e AS ce FROM q ORDER BY vec_id LIMIT 16),
             |d AS (SELECT q.vec_id, c.cell,
             |    CAST(list_sum(list_transform(list_zip(q.e, c.ce),
             |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
             |  FROM q, c),
             |a AS (SELECT vec_id, cell, dist,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
             |  FROM d)
             |SELECT vec_id, cell, dist FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, d) => {
        // 1000000.0D: Spark parses an unsuffixed decimal literal as
        // DECIMAL and would route the multiply through decimal rounding;
        // the D suffix keeps it in IEEE double, matching DuckDB bit-for-bit.
        val q = t(s, d, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> cast(floor(x * 1000000.0D) as bigint))").as("e"))
        val cents = q.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cell"), col("e").as("ce"))
        q.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cell"),
            expr("aggregate(zip_with(e, ce, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)").as("dist"))
          .groupBy("vec_id").agg(min(struct(col("dist"), col("cell"))).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"), col("m.dist").as("dist"))
          .orderBy("vec_id")
      }),

    // Cluster-BALANCED curation (the diversify phase of D4 — Tirumala et
    // al. '23: semantic clusters capped so no topic dominates the kept
    // corpus): docs route to their embedding cluster via the SAME
    // integer-micro argmin as q_ivf_assign (exact cross-engine), then
    // each cluster keeps at most 8 docs by deterministic md5 rank — the
    // keep-k is ONE partial-aggregable TopKPairs aggregate per cell
    // (map-side combinable, no window), and the kept ids equi-join back
    // to documents for the curated slice. At 100 TB:
    // assignment rides the scan (16 broadcast centroid literals), the
    // shuffle carries (cell, hv, id) triples capped at k per task.
    Q("q_cluster_balanced",
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
             |  FROM embeddings),
             |c AS (SELECT vec_id AS cell, e AS ce FROM q ORDER BY vec_id LIMIT 16),
             |dd AS (SELECT q.vec_id, c.cell,
             |    CAST(list_sum(list_transform(list_zip(q.e, c.ce),
             |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
             |  FROM q, c),
             |asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
             |  FROM dd) WHERE rn = 1),
             |h AS (SELECT vec_id, cell,
             |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
             |  FROM asg),
             |keep AS (SELECT vec_id, cell FROM (
             |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
             |      ORDER BY hv DESC, vec_id) AS rk FROM h) WHERE rk <= 8)
             |SELECT k.vec_id AS doc_id, CAST(k.cell AS BIGINT) AS cell, d2.source
             |FROM keep k JOIN documents d2 ON d2.doc_id = k.vec_id
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val q = t(s, d, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> cast(floor(x * 1000000.0D) as bigint))").as("e"))
        val cents = q.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cell"), col("e").as("ce"))
        val asg = q.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cell"),
            expr("aggregate(zip_with(e, ce, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)").as("dist"))
          .groupBy("vec_id").agg(min(struct(col("dist"), col("cell"))).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"))
        val topk = udaf(new graft.functions.Aggregators.TopKPairs(8))
        val hv = conv(substring(md5(col("vec_id").cast("string")), 1, 15),
          16, 10).cast("long")
        val keep = asg
          .groupBy("cell").agg(topk(hv, col("vec_id")).as("tk"))
          .select(col("cell").cast("long").as("cell"),
            explode(col("tk")).as("p"))
          .select(col("p._2").as("doc_id"), col("cell"))
        keep.join(t(s, d, "documents").select(col("doc_id"), col("source")), "doc_id")
          .select(col("doc_id"), col("cell"), col("source"))
          .orderBy("doc_id")
      }),

    // Distribution drift between the reference slice (src0) and the rest
    // of the corpus — Population Stability Index over HistQuantile's
    // exact integer buckets with Laplace smoothing (operators/Drift).
    // The gate every ingest runs before a new crawl batch shifts the
    // training mixture: PSI < 0.1 stable, > 0.25 action. One ln per
    // BUCKET from rational inputs, micro-quantized per bucket before any
    // sum — the per-bucket table is cross-engine exact; PSI = Σ
    // term_micro / 1e6.
    Q("q_psi_drift",
      Some("""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v, source = 'src0' AS r
             |  FROM documents WHERE n_chars IS NOT NULL),
             |bkt AS (SELECT (LEAST(1023, GREATEST(0, v)) * 16) // 1024 AS bucket, r FROM v),
             |cnts AS (SELECT bucket,
             |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
             |    CAST(sum(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS cnt_cur
             |  FROM bkt GROUP BY bucket),
             |spine AS (SELECT unnest(range(16)) AS bucket),
             |f AS (SELECT CAST(s.bucket AS BIGINT) AS bucket,
             |    coalesce(c.cnt_ref, 0) AS cnt_ref, coalesce(c.cnt_cur, 0) AS cnt_cur
             |  FROM spine s LEFT JOIN cnts c ON c.bucket = s.bucket),
             |tot AS (SELECT sum(cnt_ref) AS nr, sum(cnt_cur) AS nc FROM f)
             |SELECT bucket, cnt_ref, cnt_cur,
             |  CAST(round((CAST(cnt_ref + 1 AS DOUBLE) / CAST(nr + 16 AS DOUBLE)
             |      - CAST(cnt_cur + 1 AS DOUBLE) / CAST(nc + 16 AS DOUBLE))
             |    * ln((CAST(cnt_ref + 1 AS DOUBLE) / CAST(nr + 16 AS DOUBLE))
             |        / (CAST(cnt_cur + 1 AS DOUBLE) / CAST(nc + 16 AS DOUBLE)))
             |    * 1e6, 0) AS BIGINT) AS term_micro
             |FROM f, tot ORDER BY bucket""".stripMargin),
      (s, d) =>
        Drift.psi(t(s, d, "documents"), col("n_chars"),
            col("source") === "src0", lo = 0L, hi = 1024L, buckets = 16)
          .orderBy("bucket")),

    // A second drift metric over the SAME bucket machinery: Jensen-
    // Shannon divergence — symmetric in the slices and bounded [0, ln 2],
    // so one action threshold transfers across corpora where PSI's
    // unbounded tail does not. Same Laplace-smoothed probabilities, same
    // one-ln-per-bucket micro-quantization; term = (p·ln(p/m) +
    // q·ln(q/m))/2 with m = (p+q)/2 (total under smoothing: p, q > 0
    // always). DriftSpec pins symmetry, the ln 2 bound, and ~0 on an
    // identical split.
    Q("q_js_drift",
      Some("""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v, source = 'src0' AS r
             |  FROM documents WHERE n_chars IS NOT NULL),
             |bkt AS (SELECT (LEAST(1023, GREATEST(0, v)) * 16) // 1024 AS bucket, r FROM v),
             |cnts AS (SELECT bucket,
             |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
             |    CAST(sum(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS cnt_cur
             |  FROM bkt GROUP BY bucket),
             |spine AS (SELECT unnest(range(16)) AS bucket),
             |f AS (SELECT CAST(s.bucket AS BIGINT) AS bucket,
             |    coalesce(c.cnt_ref, 0) AS cnt_ref, coalesce(c.cnt_cur, 0) AS cnt_cur
             |  FROM spine s LEFT JOIN cnts c ON c.bucket = s.bucket),
             |tot AS (SELECT sum(cnt_ref) AS nr, sum(cnt_cur) AS nc FROM f),
             |pq AS (SELECT bucket, cnt_ref, cnt_cur,
             |    CAST(cnt_ref + 1 AS DOUBLE) / CAST(nr + 16 AS DOUBLE) AS p,
             |    CAST(cnt_cur + 1 AS DOUBLE) / CAST(nc + 16 AS DOUBLE) AS q
             |  FROM f, tot)
             |SELECT bucket, cnt_ref, cnt_cur,
             |  CAST(round((p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)))
             |    * 0.5 * 1e6, 0) AS BIGINT) AS term_micro
             |FROM pq ORDER BY bucket""".stripMargin),
      (s, d) =>
        Drift.js(t(s, d, "documents"), col("n_chars"),
            col("source") === "src0", lo = 0L, hi = 1024L, buckets = 16)
          .orderBy("bucket")),

    // The multi-feature drift PANEL — what the ingest monitor actually
    // shows: per (source, feature) PSI and JS terms vs the src0
    // reference, over THREE features (n_chars; the Gopher-style quality
    // score in micros; the BPE-ish token estimate) in ONE corpus scan:
    // each row explodes into its three (feature, bucket) cells riding
    // the scan, one partial-aggregable count produces every histogram,
    // and both metrics are per-row arithmetic over the tiny counted
    // spine (sources × 3 × 16 rows — never the corpus again). NULL
    // values drop per feature, like the single-feature queries.
    Q("q_drift_panel", {
      val qs = TextAnalysis.qualityScoreSql("text")
      Some(s"""WITH vals AS (
              |  SELECT source, 'n_chars' AS feature, 1024 AS hi,
              |    CAST(n_chars AS BIGINT) AS v FROM documents
              |  UNION ALL
              |  SELECT source, 'quality', 1000000,
              |    CAST(floor(($qs) * 1000000.0) AS BIGINT) FROM documents
              |  UNION ALL
              |  SELECT source, 'tok_est', 256,
              |    CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) FROM documents),
              |nn AS (SELECT source, feature, hi, v FROM vals WHERE v IS NOT NULL),
              |bkt AS (SELECT source, feature,
              |    (LEAST(hi - 1, GREATEST(0, v)) * 16) // hi AS bucket FROM nn),
              |refc AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS cnt_ref
              |  FROM bkt WHERE source = 'src0' GROUP BY 1, 2),
              |curc AS (SELECT source, feature, bucket, CAST(count(*) AS BIGINT) AS cnt_cur
              |  FROM bkt WHERE source <> 'src0' GROUP BY 1, 2, 3),
              |spine AS (SELECT s.source, f.feature, CAST(b.b AS BIGINT) AS bucket
              |  FROM (SELECT DISTINCT source FROM documents WHERE source <> 'src0') s
              |  CROSS JOIN (SELECT unnest(['n_chars', 'quality', 'tok_est']) AS feature) f
              |  CROSS JOIN (SELECT unnest(range(16)) AS b) b),
              |f AS (SELECT sp.source, sp.feature, sp.bucket,
              |    coalesce(r.cnt_ref, 0) AS cnt_ref, coalesce(c.cnt_cur, 0) AS cnt_cur
              |  FROM spine sp
              |  LEFT JOIN curc c ON c.source = sp.source AND c.feature = sp.feature
              |    AND c.bucket = sp.bucket
              |  LEFT JOIN refc r ON r.feature = sp.feature AND r.bucket = sp.bucket),
              |tot AS (SELECT source, feature, sum(cnt_ref) AS nr, sum(cnt_cur) AS nc
              |  FROM f GROUP BY 1, 2),
              |pq AS (SELECT f.source, f.feature, f.bucket, f.cnt_ref, f.cnt_cur,
              |    CAST(f.cnt_ref + 1 AS DOUBLE) / CAST(t.nr + 16 AS DOUBLE) AS p,
              |    CAST(f.cnt_cur + 1 AS DOUBLE) / CAST(t.nc + 16 AS DOUBLE) AS q
              |  FROM f JOIN tot t ON t.source = f.source AND t.feature = f.feature)
              |SELECT source, feature, bucket, cnt_ref, cnt_cur,
              |  CAST(round((p - q) * ln(p / q) * 1e6, 0) AS BIGINT) AS psi_term_micro,
              |  CAST(round((p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)))
              |    * 0.5 * 1e6, 0) AS BIGINT) AS js_term_micro
              |FROM pq ORDER BY source, feature, bucket""".stripMargin)
    },
      (s, d) =>
        driftPanelTerms(s, d).orderBy("source", "feature", "bucket")),

    // The ORACLED core of the PQ path (the q_ivf_assign pattern): per-
    // subspace nearest-codeword ASSIGNMENT — the step every PQ encode and
    // every codebook Lloyd iteration depends on — made cross-engine exact
    // in integer micro space. Codewords are the first 16 vectors' sub-
    // slices (the same deterministic seeding Pq.trainOn starts from),
    // inlined as literal arrays: a pure per-row expression, ONE scan, no
    // shuffle, no join — at 100 TB the codebook is a trained KB-sized
    // table and this is exactly the encode map.
    Q("q_pq_assign",
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
             |  FROM embeddings),
             |sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e AS ce
             |  FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT 16)),
             |sub AS (SELECT r.range AS sub FROM range(8) r),
             |d AS (SELECT q.vec_id, sub.sub, sd.code,
             |    CAST(list_sum(list_transform(list_zip(
             |        list_slice(q.e, CAST(sub.sub AS INT) * 8 + 1, CAST(sub.sub AS INT) * 8 + 8),
             |        list_slice(sd.ce, CAST(sub.sub AS INT) * 8 + 1, CAST(sub.sub AS INT) * 8 + 8)),
             |      zz -> (zz[1] - zz[2]) * (zz[1] - zz[2]))) AS BIGINT) AS dist
             |  FROM q, sub, sd),
             |a AS (SELECT vec_id, sub, code, dist,
             |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
             |  FROM d)
             |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, dist
             |FROM a WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin),
      (s, d) => {
        import s.implicits._
        // 1000000.0D keeps the multiply in IEEE double (matching DuckDB)
        // rather than Spark's decimal literal path — same as q_ivf_assign.
        // tFan (r21): the 16-code × 8-subspace assignment fold below is
        // the heavy-per-row expression class; the compact store's single
        // scan split serialized it on one core.
        val q = tFan(s, d, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> cast(floor(x * 1000000.0D) as bigint))").as("e"))
        // bounded driver round-trip: 16 x 64 longs — the codebook-table
        // contract (at 100 TB the codebook is a trained KB-sized table,
        // broadcast below). One shared aggregate expression over the
        // exploded (code x subspace) rows beats 128 inlined per-row
        // lambdas: ~4x less analysis/codegen, same integer arithmetic.
        val seeds = q.orderBy("vec_id").limit(16)
          .select("e").collect().map(_.getSeq[Long](0))
          .zipWithIndex.map { case (e, c) => (c.toLong, e) }.toSeq
          .toDF("code", "ce")
        q.crossJoin(broadcast(seeds))
          .select(col("vec_id"), col("code"),
            explode(expr("sequence(0, 7)")).as("sub"), col("e"), col("ce"))
          .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"),
            expr("aggregate(zip_with(slice(e, sub * 8 + 1, 8), " +
              "slice(ce, sub * 8 + 1, 8), (a, b) -> (a - b) * (a - b)), " +
              "0L, (acc, x) -> acc + x)").as("dist"))
          .groupBy("vec_id", "sub")
          .agg(min(struct(col("dist"), col("code"))).as("m"))
          .select(col("vec_id"), col("sub"),
            col("m.code").as("code"), col("m.dist").as("dist"))
          .orderBy("vec_id", "sub")
      }),

    // Product-quantization ANN (Pq): deterministic codebooks (exact-micro
    // Lloyd step), 8-byte codes, ADC top-k by literal lookup table.
    // ORACLED in full (promoted round 10): DuckDB re-derives the ENTIRE
    // chain — per-subspace seed assignment (bit-mirrored euclidean,
    // ties -> smaller cell), the Lloyd micro-sums (order-invariant
    // integers, so the trained codewords are the same doubles at any
    // parallelism; empty cells keep their seed), corpus encoding against
    // the trained books, the per-query ADC LUT folds, and the top-k by
    // (adc, c_id) — every double bit matching the codegen'd expressions
    // (OracleVec). Recall vs exact L2 additionally spec-bounded in PqSpec.
    Q("q_embed_knn_pq",
      Some {
        def sq(a: String, b: String) = OracleVec.sqDiffSql(a, b)
        def eu(a: String, b: String) = OracleVec.euclidSql(a, b)
        def sl(v: String, s: String) =
          s"list_slice($v, CAST($s AS INT) * 8 + 1, CAST($s AS INT) * 8 + 8)"
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
           |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
           |asg AS (SELECT e.vec_id, r.range AS s, sd.cell,
           |    ${eu(sl("e.v", "r.range"), sl("sd.sv", "r.range"))} AS dist
           |  FROM e, range(8) r, sd),
           |a1 AS (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s
           |    ORDER BY dist, cell) AS rn FROM asg),
           |av AS (SELECT vec_id, s, cell FROM a1 WHERE rn = 1),
           |mo AS (SELECT av.s, av.cell, r2.range AS i,
           |    CAST(sum(CAST(floor(e.v[CAST(av.s AS INT) * 8 + CAST(r2.range AS INT) + 1] * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
           |    count(*) AS n
           |  FROM av JOIN e USING (vec_id), range(8) r2 GROUP BY av.s, av.cell, r2.range),
           |bk AS (SELECT s, cell, list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY i) AS bc
           |  FROM mo GROUP BY s, cell),
           |grid AS (SELECT sd.cell, r.range AS s, sd.sv FROM sd, range(8) r),
           |bkall AS (SELECT grid.s, grid.cell, coalesce(bk.bc, ${sl("grid.sv", "grid.s")}) AS bc
           |  FROM grid LEFT JOIN bk ON bk.s = grid.s AND bk.cell = grid.cell),
           |enc AS (SELECT e.vec_id, b.s, b.cell, ${eu(sl("e.v", "b.s"), "b.bc")} AS d
           |  FROM e, bkall b),
           |e1 AS (SELECT vec_id, s, cell, row_number() OVER (PARTITION BY vec_id, s
           |    ORDER BY d, cell) AS rn FROM enc),
           |codes AS (SELECT vec_id AS c_id, s, cell AS code FROM e1 WHERE rn = 1),
           |lut AS (SELECT q.vec_id AS q_id, b.s, b.cell, ${sq(sl("q.v", "b.s"), "b.bc")} AS ld
           |  FROM e q, bkall b WHERE q.vec_id < 5),
           |parts AS (SELECT lut.q_id, codes.c_id, lut.s, lut.ld
           |  FROM codes JOIN lut ON lut.s = codes.s AND lut.cell = codes.code
           |  WHERE codes.c_id <> lut.q_id),
           |adc AS (SELECT q_id, c_id, list_reduce(list(ld ORDER BY s), (acc, el) -> acc + el) AS dist
           |  FROM parts GROUP BY q_id, c_id),
           |r AS (SELECT q_id, c_id, dist, row_number() OVER (PARTITION BY q_id
           |    ORDER BY dist, c_id) AS rn FROM adc)
           |SELECT q_id, c_id, CAST(floor(dist * 1000000.0) AS BIGINT) AS adc_dist_micro
           |FROM r WHERE rn <= 10 ORDER BY q_id, adc_dist_micro, c_id""".stripMargin
      },
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // tFan for the TRAINING and ENCODE scans (r21): both run the
        // m×ks nearestCell expression forest (~128 inlined euclidean
        // folds) per row — exactly the heavy-per-row class the r20
        // fan-out classification keeps fanned — and a compact store's
        // single scan split serialized them on one core. Training is
        // partitioning-invariant by construction (exact integer-micro
        // sums); the ADC heap is a deterministic total order.
        val fanned = tFan(s, d, "embeddings")
        val books = Pq.trainCodebooks(fanned, "vec_id", "embedding",
          dim = 64, m = 8, ks = 16)
        val encoded = fanned.select(col("vec_id"),
          Pq.encodeExpr(col("embedding"), books).as("pq_code"))
        // batch-native flat ADC: one corpus-code scan serves all queries
        // (per-query LUTs are broadcast; no driver loop, no plan branch
        // per query)
        Pq.adcTopKBatch(encoded, emb.filter(col("vec_id") < 5),
            "vec_id", "pq_code", "embedding", books, k = 10)
          .select(col("q_id"), col("c_id"),
            floor(col("adc_dist") * lit(1e6)).cast("long").as("adc_dist_micro"))
          .orderBy("q_id", "adc_dist_micro", "c_id")
      }),

    // IVF-PQ — the composed 100 TB ANN layout: trained coarse quantizer
    // (multi-iteration exact-micro Lloyd), PQ codes of the residual,
    // candidate generation by equi-join on probed cells only. ORACLED in
    // full (promoted round 10): DuckDB re-derives the ENTIRE layout —
    // three unrolled Lloyd iterations (cosine argmax assignment, exact-
    // micro means with per-iteration REAL rounding, empty cells keep
    // their previous centroid), euclidean coarse cells + residuals,
    // residual codebook training, per-subspace encoding, 3-cell probes,
    // per-(query, cell) residual LUTs, and the ordered ADC fold — every
    // double bit matching the codegen'd expressions (OracleVec; exact
    // integer sums make the trained tables parallelism-invariant, which
    // is what makes a trained-index oracle possible at all).
    Q("q_embed_knn_ivfpq", IvfPqOracleSql,
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // tFan measured and REJECTED here (r21, stash A/B min-of-5):
        // fanning the Lloyd loop re-pays the raw-vector exchange per
        // iteration (4.11 vs 3.61 s), and even fanning only the
        // residual-training + encode scans lost (3.93 vs 2.89 probe
        // min) — unlike q_embed_knn_pq, this chain's scans interleave
        // with bounded collects, and the exchange of 64-double rows
        // costs more than the staged residual/encode projections gain.
        val seed = Similarity.centroidRows(
          emb.filter(col("vec_id") < 8), "vec_id", "embedding")
        // tol = 0.0: the loop then stops early ONLY at an exact fixed
        // point, where further Lloyd iterations are idempotent — so the
        // oracle's fixed 3-iteration mirror is correct regardless of
        // when (or whether) the Scala loop short-circuits.
        val trained = Similarity.kmeansTrain(emb, "vec_id", "embedding",
          seed, maxIters = 3, tol = 0.0)
        val cents = trained.map(_._2.map(_.toDouble).toArray)
        val books = Pq.trainResidualCodebooks(emb, "vec_id", "embedding",
          cents, m = 8, ks = 16)
        val encoded = Pq.ivfPqEncode(emb, "vec_id", "embedding", cents, books)
        Pq.ivfPqTopK(encoded, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
          .select(col("q_id"), col("c_id"), col("rn"))
          .orderBy("q_id", "rn")
      }),

    // The COMPRESSED index served from storage — q_ann_from_index's
    // production sibling: q_ann_from_index serves IVF-Flat (raw vectors
    // in the postings); this serves the 32×-smaller IVF-PQ layout
    // (8-byte codes, codebooks + centroids read back as two bounded
    // model tables), which is what a real vector store keeps hot. The
    // query pays routing + the probed cells' CODE scan + the ADC fold —
    // codes parquet is partitioned by cell, so the equi-join on probed
    // cells prunes unread partitions. Same trained model as
    // q_embed_knn_ivfpq (doubles round-trip parquet exactly), so the
    // oracle text is shared and the ranks are identical.
    Q("q_ann_from_index_pq", IvfPqOracleSql,
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfPqIndexDir(s, d)
        val (cents, books) = readIvfPqModel(s, idx)
        Pq.ivfPqTopK(Tables.parquet(s, idx + "/codes"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
          .select(col("q_id"), col("c_id"), col("rn"))
          .orderBy("q_id", "rn")
      }),

    // The compressed index under the APPEND lifecycle — the verb that
    // was still missing from the PQ family (q_ann_index_incr covers
    // IVF-Flat): coarse centroids AND residual codebooks are trained on
    // the BASE corpus and frozen; appended vectors are assigned +
    // PQ-encoded under the stored model and land as codes/gen=1 (staged
    // markers, so the append re-runs without retraining or re-encoding
    // the base — see materializedIvfPqIncrIndexDir). One read of codes/
    // serves both generations with cell pruning intact. Frozen model
    // means appended == rebuilt, so the oracle is the shared IVF-PQ
    // chain with TRAINING (Lloyd + codebooks) restricted to the base
    // slice and encode/probe/ranks over the whole corpus.
    Q("q_ann_index_incr_pq", Some(ivfPqOracleSqlFor(" WHERE vec_id % 4 <> 3")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfPqIncrIndexDir(s, d)
        val (cents, books) = readIvfPqModel(s, idx)
        Pq.ivfPqTopK(Tables.parquet(s, idx + "/codes"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
          .select(col("q_id"), col("c_id"), col("rn"))
          .orderBy("q_id", "rn")
      }),

    // The compressed index COMPACTED — IVF-PQ's third verb, closing the
    // verb matrix (both index families now carry build → serve → append
    // → compact → evaluate): the accumulated code generations rewritten
    // into one flat cell= layout, centroids and books copied verbatim,
    // nothing re-trained or re-encoded (see
    // materializedIvfPqCompactIndexDir). Frozen model ⇒ compacted ==
    // appended == rebuilt, so the oracle is q_ann_index_incr_pq's.
    Q("q_ann_index_compact_pq", Some(ivfPqOracleSqlFor(" WHERE vec_id % 4 <> 3")),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val idx = materializedIvfPqCompactIndexDir(s, d)
        val (cents, books) = readIvfPqModel(s, idx)
        Pq.ivfPqTopK(Tables.parquet(s, idx + "/codes"),
            emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
          .select(col("q_id"), col("c_id"), col("rn"))
          .orderBy("q_id", "rn")
      }),

    // q_ann_refresh's COMPRESSED twin, served from the CURRENT version of
    // materializedIvfPqRegistryDir: the trigger reads the frozen
    // append-only PQ store's cell histogram (over the codes layout —
    // same hottest-cell ratio), and past the threshold the coarse
    // quantizer AND the residual codebooks retrain on the current
    // corpus, every vector re-encoding into v1. The registered query
    // forces the refresh (threshold 0), and refreshed == rebuilt by
    // shared builder, so the oracle is the UNRESTRICTED full-corpus
    // IVF-PQ chain (q_embed_knn_ivfpq's text).
    Q("q_ann_refresh_pq", IvfPqOracleSql, servePqCurrent),

    // The COMPRESSED index served THROUGH THE REGISTRY POINTER — the
    // same body under its registry name. PqSpec pins serve-current ==
    // the built-from-scratch index (q_ann_from_index_pq) and
    // exactly-one-surviving-version.
    Q("q_pq_serve_current", IvfPqOracleSql, servePqCurrent),

    // Recall@10 of the COMPRESSED index — q_ann_recall's PQ sibling,
    // and the number that actually governs a PQ deployment: quantizing
    // residuals to 8 bytes trades recall for the 32× footprint, and
    // this query measures exactly what that trade costs on this corpus
    // (the served IVF-Flat index rescores exact vectors, so its recall
    // only reflects probe misses; ADC ranks also pay code distortion).
    // Same exact-integer shape: both chains are deterministic oracled
    // queries, the intersection count is a 50×50 join.
    Q("q_ann_recall_pq",
      Some(s"""WITH ${ivfPqOracleCtesFor("")},
              |ak AS (SELECT q_id, c_id FROM r WHERE rn <= 10),
              |ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |                                      CAST(c.embedding AS DOUBLE[])) DESC,
              |               c.vec_id) AS xrn
              |  FROM embeddings q JOIN embeddings c
              |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
              |exk AS (SELECT q_id, c_id FROM ex WHERE xrn <= 10),
              |h AS (SELECT exk.q_id,
              |    CAST(coalesce(sum(CASE WHEN ak.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
              |  FROM exk LEFT JOIN ak ON ak.q_id = exk.q_id AND ak.c_id = exk.c_id
              |  GROUP BY exk.q_id)
              |SELECT q_id, n_hits, CAST(n_hits * 100000 AS BIGINT) AS recall_micro
              |FROM h ORDER BY q_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val idx = materializedIvfPqIndexDir(s, d)
        val (cents, books) = readIvfPqModel(s, idx)
        val approx = Pq.ivfPqTopK(Tables.parquet(s, idx + "/codes"), queries,
            "vec_id", "embedding", cents, books, k = 10, nProbe = 3)
          .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
        Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 10)
          .select("q_id", "c_id")
          .join(approx, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
          .orderBy("q_id")
      }),

    // The COMPRESSED index's operating curve — q_ann_probe_curve's PQ
    // sibling: recall@10 of the served IVF-PQ index at nProbe 1..3 per
    // query. Same one-chain oracle trick (adc carries the candidate's
    // probe rank — each candidate reaches the ADC fold through exactly
    // one cell, so the rank is single-valued — and each level re-ranks
    // pr <= p); the Spark side prices three cell-pruned code probes.
    // A property worth the query on its own: unlike the exact-rescoring
    // IVF curve, ADC recall is NOT per-query monotone in nProbe — a
    // widened probe set adds candidates whose quantized distances are
    // underestimated, and those can displace true neighbors from the
    // top-10 (PqSpec pins an instance on this corpus). A deployment
    // tuning probe width against a compressed index needs the measured
    // curve, not the monotonicity intuition.
    Q("q_ann_probe_curve_pq",
      Some(s"""WITH ${ivfPqOracleCtesFor("")},
              |lv AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS n_probe),
              |rp AS (SELECT lv.n_probe, adc.q_id, adc.c_id,
              |    CAST(row_number() OVER (PARTITION BY lv.n_probe, adc.q_id
              |      ORDER BY adc.dist, adc.c_id) AS BIGINT) AS rn
              |  FROM adc, lv WHERE adc.pr <= lv.n_probe),
              |ak AS (SELECT n_probe, q_id, c_id FROM rp WHERE rn <= 10),
              |ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |                                      CAST(c.embedding AS DOUBLE[])) DESC,
              |               c.vec_id) AS xrn
              |  FROM embeddings q JOIN embeddings c
              |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
              |exk AS (SELECT q_id, c_id FROM ex WHERE xrn <= 10),
              |h AS (SELECT lv.n_probe, exk.q_id,
              |    CAST(coalesce(sum(CASE WHEN ak.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
              |  FROM exk CROSS JOIN lv
              |  LEFT JOIN ak ON ak.n_probe = lv.n_probe
              |    AND ak.q_id = exk.q_id AND ak.c_id = exk.c_id
              |  GROUP BY lv.n_probe, exk.q_id)
              |SELECT n_probe, q_id, n_hits,
              |  CAST(n_hits * 100000 AS BIGINT) AS recall_micro
              |FROM h ORDER BY n_probe, q_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val idx = materializedIvfPqIndexDir(s, d)
        val (cents, books) = readIvfPqModel(s, idx)
        val codes = Tables.parquet(s, idx + "/codes")
        val exact = Similarity.bruteForceKnn(emb, queries,
          "vec_id", "embedding", 10).select("q_id", "c_id")
        (1 to 3).map { p =>
          val approx = Pq.ivfPqTopK(codes, queries,
              "vec_id", "embedding", cents, books, k = 10, nProbe = p)
            .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
          exact.join(approx, Seq("q_id", "c_id"), "left")
            .groupBy("q_id")
            .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
            .select(lit(p.toLong).as("n_probe"), col("q_id"), col("n_hits"))
        }.reduce(_ unionAll _)
          .select(col("n_probe"), col("q_id"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
          .orderBy("n_probe", "q_id")
      }),

    // ---- text analysis --------------------------------------------------

    Q("q_text_stats",
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2,
             |  CAST(len(string_split_regex(lower(text), '[\s\x0b]+')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(string_split_regex(lower(text), '[\s\x0b]+'))) AS BIGINT) AS n_unique_tokens,
             |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS tok_est
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.stats(t(s, d, "documents"), "text")
          .select("doc_id", "n_chars2", "n_tokens", "n_unique_tokens", "tok_est")
          .orderBy("doc_id")),

    // Canonical text normalization: accent-fold (custom codegen'd Unaccent
    // expression) + case/punct/whitespace cleanup. The accented prefix is
    // synthesized (this corpus is ASCII) so the NFD path is actually hit.
    Q("q_text_norm",
      Some("""SELECT doc_id,
             |  strip_accents('Çafé—Ñaïve ' || text) AS plain,
             |  trim(regexp_replace(regexp_replace(
             |    lower(strip_accents('Çafé—Ñaïve ' || text)),
             |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val raw = concat(lit("Çafé—Ñaïve "), col("text"))
        t(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.unaccent(raw).as("plain"),
            TextAnalysis.normalize(raw).as("norm"))
          .orderBy("doc_id")
      }),

    // Custom Catalyst Generator (UDTF): lazy char-5-gram shingling — rows
    // stream out one position at a time, no per-document array
    // materialization (contrast transform(sequence(...)) which allocates
    // every shingle before exploding).
    Q("q_shingle_udtf",
      Some("""SELECT doc_id,
             |  CAST(len(list_distinct([substr(text, i, 5) FOR i IN range(1, greatest(length(text)-3, 1))])) AS BIGINT) AS n_shingles,
             |  CAST(greatest(length(text)-4, 0) AS BIGINT) AS n_positions
             |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),
      (s, d) =>
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            graft.functions.explode_shingles(col("text"), 5).as(Seq("pos", "shingle")))
          .groupBy("doc_id")
          .agg(countDistinct(col("shingle")).as("n_shingles"),
            count(lit(1)).as("n_positions"))
          .orderBy("doc_id")),

    // Banded self-join: same-user event pairs within 60 s, via width-w cell
    // quantization + neighbor explode -> hash equi-join (no nested loop).
    Q("q_band_join",
      Some("""SELECT a.user_id AS k, a.event_id AS id_a, b.event_id AS id_b
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
             |ORDER BY k, id_a, id_b""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events")
        RangeJoin.bandJoinMicros(ev, ev, "user_id", "event_id", "event_id",
            "ts", wMicros = 60L * 1000 * 1000)
          .filter(col("id_a") < col("id_b"))
          .select("k", "id_a", "id_b")
          .orderBy("k", "id_a", "id_b")
      }),

    // Hourly resample of the event stream with LOCF gap filling: raw events
    // collapse to per-bucket partials; the dense grid is generated
    // per-series (sequence+explode, no driver loop); carry-forward window
    // runs over grid-sized data only.
    Q("q_resample",
      Some("""WITH agg AS (
             |  SELECT event_type AS series, date_trunc('hour', ts) AS bucket,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS v
             |  FROM events GROUP BY 1, 2),
             |bounds AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1),
             |grid AS (SELECT series, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds)
             |SELECT g.series, g.bucket, coalesce(a.n, 0) AS n,
             |  last_value(a.v IGNORE NULLS) OVER (PARTITION BY g.series ORDER BY g.bucket
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
             |FROM grid g LEFT JOIN agg a USING (series, bucket)
             |ORDER BY series, bucket""".stripMargin),
      (s, d) =>
        Resample.locf(t(s, d, "events"), "event_type", "ts",
            sum(round(col("value") * 100, 0).cast("long")), "hour")
          .orderBy("series", "bucket")),

    // Corpus report card: per (source, lang) volume/length/quality stats —
    // the first query every dataset owner runs. Pure partial-aggregable
    // shapes; exact integer sums.
    Q("q_corpus_report",
      Some("""SELECT source, lang,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
             |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_tokens,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM documents GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("sum_chars"),
            sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"),
            min(col("n_chars")).cast("long").as("min_chars"),
            max(col("n_chars")).cast("long").as("max_chars"))
          .orderBy("source", "lang")),

    // Vocabulary extraction: corpus-wide term frequencies, exact top-20.
    // The explode -> groupBy shape is the canonical vocab-building pass;
    // partial aggregation keeps the shuffle at distinct-token cardinality.
    Q("q_top_terms",
      Some("""SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
             |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc)
          .limit(20)),

    // Heavy hitters, two-pass: the single-pass frequent-items sketch
    // proposes candidates (no false negatives — Karp/Shenker/Papadimitriou
    // guarantee), then one exact-count pass over ONLY the candidate values
    // (broadcast the tiny ≤1/support candidate set, map-side filter, then
    // aggregate) confirms them. The confirmed set is exactly
    // {v : count(v) > support·n}, so the query oracles exactly — and the
    // two-pass shape is the production pattern at 100 TB: the sketch pass
    // prunes the second scan's aggregation to a handful of keys.
    Q("q_freq_items",
      Some("""WITH tot AS (SELECT count(*) AS n FROM lineitem),
             |f AS (SELECT 'l_returnflag' AS "column",
             |        CAST(l_returnflag AS VARCHAR) AS item,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM lineitem GROUP BY l_returnflag
             |      HAVING 10 * count(*) > 3 * (SELECT n FROM tot)),
             |l AS (SELECT 'l_linenumber' AS "column",
             |        CAST(l_linenumber AS VARCHAR) AS item,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM lineitem GROUP BY l_linenumber
             |      HAVING count(*) > 0.3 * (SELECT n FROM tot))
             |SELECT * FROM f UNION ALL SELECT * FROM l
             |ORDER BY "column", item""".stripMargin),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val support = 0.3
        val fi = li.stat.freqItems(Array("l_returnflag", "l_linenumber"), support)
        val cands = fi.select(explode(col("l_returnflag_freqItems")).as("raw"))
          .select(lit("l_returnflag").as("column"), col("raw").cast("string").as("item"))
          .unionAll(fi.select(explode(col("l_linenumber_freqItems")).as("raw"))
            .select(lit("l_linenumber").as("column"), col("raw").cast("string").as("item")))
        val total = li.agg(count(lit(1)).as("n_total"))
        val exact = li.select(lit("l_returnflag").as("column"),
            col("l_returnflag").cast("string").as("item"))
          .unionAll(li.select(lit("l_linenumber").as("column"),
            col("l_linenumber").cast("string").as("item")))
          .join(broadcast(cands), Seq("column", "item"), "left_semi")
          .groupBy("column", "item").agg(count(lit(1)).as("cnt"))
        exact.crossJoin(broadcast(total))
          // Integer-space threshold: 0.3 is not exactly representable in
          // IEEE double while DuckDB's 0.3 * n is exact DECIMAL, so when a
          // count lands exactly on 3n/10 the two sides disagree. cnt*10 >
          // n*3 keeps both sides in exact integer arithmetic.
          .where(col("cnt") * lit(10L) > col("n_total") * lit(3L))
          .select(col("column"), col("item"), col("cnt"))
          .orderBy("column", "item")
      }),

    // Language id + quality score. ORACLED: DuckDB mirrors both heuristics
    // exactly — langId as a struct max over per-language stopword-overlap
    // scores, quality as the shared IEEE-ordered formula (qualityScoreSql).
    Q("q_text_quality", {
      Some(s"""SELECT doc_id, lang,
              |  ${TextAnalysis.langIdSql("text")} AS pred_lang,
              |  round(${TextAnalysis.qualityScoreSql("text")}, 6) AS quality
              |FROM documents ORDER BY doc_id""".stripMargin)
    },
      (s, d) => {
        // bind the tokenization once: langId probes it per language and
        // qualityScore three more times (no codegen CSE across HOFs)
        val toks = col("__toks")
        t(s, d, "documents")
          .withColumn("__toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langId(toks).as("pred_lang"),
            TextAnalysis.qualityScore(col("text"), toks).as("quality"))
          .orderBy("doc_id")
      }),

    // Context-window chunking: 50-token windows, stride 40 (10-token
    // overlap). Pure per-row explode — parallelism-invariant, no shuffle.
    Q("q_chunk",
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
             |SELECT doc_id, CAST(r.range AS INT) AS chunk_idx,
             |  array_to_string(list_slice(tk, CAST(r.range AS INT)*40+1, CAST(r.range AS INT)*40+50), ' ') AS chunk,
             |  CAST(len(list_slice(tk, CAST(r.range AS INT)*40+1, CAST(r.range AS INT)*40+50)) AS BIGINT) AS n_toks
             |FROM toks CROSS JOIN range(0, 8) r
             |WHERE CAST(r.range AS INT)*40 < len(tk)
             |ORDER BY doc_id, chunk_idx""".stripMargin),
      (s, d) =>
        TextAnalysis.chunk(t(s, d, "documents"), "doc_id", "text",
            chunkTokens = 50, strideTokens = 40, maxChunks = 8)
          .orderBy("doc_id", "chunk_idx")),

    // PII redaction: email/phone/id-number patterns replaced with typed
    // placeholder tokens — the standard scrub pass before training. The
    // corpus is synthetic ASCII, so representative PII is injected
    // deterministically per doc_id and must come back out redacted.
    Q("q_redact",
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    'mail me at user' || doc_id || '@example.com or +1-555-000-' || doc_id || ' ssn 123-45-6789 ' || text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
             |    '\+?[0-9][0-9()\s.-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
             |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val injected = concat(
          lit("mail me at user"), col("doc_id"), lit("@example.com or +1-555-000-"),
          col("doc_id"), lit(" ssn 123-45-6789 "), col("text"))
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            regexp_replace(regexp_replace(regexp_replace(injected,
              lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
              lit("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"), lit("<ID>")),
              lit("\\+?[0-9][0-9()\\s.-]{6,}[0-9]"), lit("<PHONE>")).as("redacted"))
          .orderBy("doc_id")
      }),

    // Gopher-style document quality rules (Rae et al. '21 §A1.1): per-doc
    // boolean gates on word count, mean word length, symbol ratio and
    // lexical diversity — integer/flag outputs, exactly reproducible.
    // Gate expressions shared with the streaming curation query
    // (TextAnalysis.gopherGates / gopherGateSql) so the reporting and
    // gating surfaces cannot drift.
    Q("q_gopher_rules", {
      val gates = TextAnalysis.gopherGateSql("text")
        .map { case (name, clause) => s"$clause AS $name" }.mkString(",\n  ")
      Some(s"""SELECT doc_id,
              |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              |  $gates
              |FROM documents ORDER BY doc_id""".stripMargin)
    },
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id") +:
            size(split(col("text"), " ")).cast("long").as("n_words") +:
            TextAnalysis.gopherGates(col("text"))
              .map { case (name, c) => c.as(name) }: _*)
          .orderBy("doc_id")),

    // Corpus-quantile quality filter: keep docs at/above the 25th-percentile
    // quality score. The threshold is ONE tree-aggregated scalar broadcast
    // into a map-side filter — no global sort, no single-partition window —
    // so the threshold survives a 1000-executor scale-up unchanged. The
    // scored projection (3 narrow columns) is persisted across its two
    // consumers (threshold aggregate + filter) so the regex-heavy scoring
    // pass runs once, and released once the kept rows are collected: the
    // driver holds 16 bytes per kept document (~1.2 MB at sf0.1).
    Q("q_quality_filter", {
      val q = TextAnalysis.qualityScoreSql("text")
      Some(s"""WITH scored AS (
              |  SELECT doc_id,
              |    CAST(len(string_split_regex(lower(text), '[\\s\\x0b]+')) AS BIGINT) AS n_tokens,
              |    $q AS q
              |  FROM documents),
              |thr AS (SELECT quantile_cont(q, 0.25) AS t FROM scored)
              |SELECT s.doc_id, s.n_tokens FROM scored s, thr
              |WHERE s.q >= thr.t ORDER BY s.doc_id""".stripMargin)
    },
      (s, d) => {
        // bind the tokenization once — n_tokens + qualityScoreRaw
        // reference it four times (no codegen CSE across HOFs)
        val toks = col("__toks")
        Persisted.collect(t(s, d, "documents")
          .withColumn("__toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            TextAnalysis.qualityScoreRaw(col("text"), toks).as("q"))) { scored =>
          val thr = scored.agg(expr("percentile(q, 0.25)").as("t"))
          scored.crossJoin(broadcast(thr))
            .filter(col("q") >= col("t"))
            .select("doc_id", "n_tokens")
            .orderBy("doc_id")
        }
      }),

    // Hashed bag-of-words linear scoring — the fastText-classifier shape
    // of the CCNet/RedPajama quality filters as one per-row expression
    // chain (token -> md5 hashing-trick bucket -> integer-micro weight ->
    // HOF fold). No explode, no shuffle; the weight table is a pure
    // function of the bucket id so both engines recompute it exactly.
    Q("q_linear_score",
      Some("""WITH toks AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(coalesce(list_sum(
             |    [(CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 256) * 2654435761 % 1997 - 998
             |     FOR x IN t]), 0) AS BIGINT) AS score_micro,
             |  CAST(len(t) AS BIGINT) AS n_toks
             |FROM toks ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.hashedLinearScore(t(s, d, "documents"), "doc_id", "text",
            buckets = 256)
          .orderBy("doc_id")),

    // The TRAINING side of the quality gate: one full-batch logistic-
    // regression gradient step over the same hashed bag-of-words features
    // (label = doc comes from src0). Integer-micro margins ride the scan;
    // the one sigmoid per doc is micro-quantized into the residual BEFORE
    // the cross-row sum (q_kmeans_step pattern), so the gradient is an
    // exact integer aggregate — bit-equal at any parallelism, and the
    // shuffle carries 256 bucket keys, never the documents. The oracle
    // re-derives the identical step from the same inlined weight table.
    // TextAnalysisSpec shows N such steps reduce loss on a planted-
    // separable fixture.
    Q("q_linear_train_step", {
      val w = LrInitWeights.mkString("[", ", ", "]")
      Some(s"""WITH w AS (SELECT $w AS wt),
              |toks AS (SELECT doc_id,
              |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
              |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
              |  FROM documents),
              |m AS (SELECT doc_id, y, t, CAST(coalesce(list_sum(
              |    [wt[CAST(('0x' || substr(md5(x), 1, 8))::BIGINT % 256 AS INT) + 1]
              |     FOR x IN t]), 0) AS BIGINT) AS margin FROM toks, w),
              |r AS (SELECT t, CAST(round((1.0/(1.0 + exp(-CAST(margin AS DOUBLE)/1e6))
              |    - CAST(y AS DOUBLE)) * 1e6, 0) AS BIGINT) AS rm FROM m),
              |e AS (SELECT rm, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket
              |  FROM (SELECT rm, unnest(t) AS tok FROM r))
              |SELECT bucket, CAST(sum(rm) AS BIGINT) AS grad_micro,
              |  CAST(count(*) AS BIGINT) AS n_terms
              |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin)
    },
      (s, d) =>
        TextAnalysis.logisticGradStep(t(s, d, "documents"), "text",
            when(col("source") === "src0", 1L).otherwise(0L),
            LrInitWeights, buckets = 256)
          .orderBy("bucket")),

    // The HARDENED training step — bias (intercept) feature + L2
    // shrinkage, the two things q_linear_train_step's plain GD lacks (on
    // a separable fixture its weights grow without bound; on an
    // imbalanced corpus the features must encode the base rate). Output
    // is the 257-row weight table AFTER one regularized step from the
    // inlined init (bias starts at 0.25), so the oracle pins margin-
    // with-intercept, the per-DOCUMENT bias gradient row, and the exact
    // truncating-integer update including the lr·λ·w shrink term (bias
    // unregularized, the standard convention). The gradient is the same
    // one-scan 257-key integer aggregate; the update is 257-row driver
    // arithmetic (the bounded merge-table contract).
    Q("q_linear_train_reg", {
      val w = LrInitWeights.mkString("[", ", ", "]")
      // truncating division toward zero (Scala Long /) vs DuckDB's
      // flooring // — the sign CASE, as in q_linear_train_apply
      def tdiv(x: String, y: String) =
        s"CASE WHEN $x >= 0 THEN ($x) // ($y) ELSE -((-($x)) // ($y)) END"
      Some(s"""WITH wt AS (SELECT $w AS wt),
              |w0 AS (SELECT CAST(b AS BIGINT) AS b,
              |    CAST(CASE WHEN b = 256 THEN 250000 ELSE wt[CAST(b AS INT) + 1] END AS BIGINT) AS w
              |  FROM (SELECT unnest(range(257)) AS b), wt),
              |toks AS (SELECT doc_id,
              |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
              |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
              |  FROM documents),
              |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              |occ AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
              |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
              |m AS (SELECT tk.doc_id, tk.y, CAST(coalesce(s.mm, 0) + 250000 AS BIGINT) AS mm
              |  FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum(w0.w) AS mm
              |    FROM occ JOIN w0 ON w0.b = occ.b GROUP BY occ.doc_id) s
              |  ON s.doc_id = tk.doc_id),
              |r AS (SELECT doc_id, CAST(round((1.0/(1.0+exp(-CAST(mm AS DOUBLE)/1e6))
              |    - CAST(y AS DOUBLE))*1e6, 0) AS BIGINT) AS rm FROM m),
              |g AS (SELECT b, CAST(sum(rm) AS BIGINT) AS gg FROM (
              |    SELECT occ.b, r.rm FROM occ JOIN r USING (doc_id)
              |    UNION ALL SELECT CAST(256 AS BIGINT) AS b, rm FROM r)
              |  GROUP BY b)
              |SELECT w0.b AS bucket, CAST(w0.w
              |  - ${tdiv("1000000 * coalesce(g.gg, 0)", "1000000 * cnt.n")}
              |  - CASE WHEN w0.b = 256 THEN 0
              |         ELSE ${tdiv("100000000000 * w0.w", "1000000000000")} END
              |  AS BIGINT) AS w_micro
              |FROM w0 LEFT JOIN g ON g.b = w0.b CROSS JOIN cnt
              |ORDER BY bucket""".stripMargin)
    },
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val trained = TextAnalysis.logisticTrainReg(docs, "text",
          when(col("source") === "src0", 1L).otherwise(0L),
          LrInitWeights :+ 250000L, steps = 1, lrMicro = 1000000L,
          n = docs.count(), l2Micro = 100000L)
        trained.zipWithIndex.map { case (w, b) => (b.toLong, w) }
          .toDF("bucket", "w_micro").orderBy("bucket")
      }),

    // The classifier LIFECYCLE composed end-to-end, the q_dedup_apply
    // pattern for the quality gate: TRAIN two full-batch GD steps
    // (logisticTrainN — each step one corpus scan + a 256-key integer
    // gradient aggregate + a bounded 256-row driver round-trip), then
    // APPLY the trained weights to every document (linearMargins — the
    // same no-shuffle HOF-fold scoring pass as q_linear_score, weights
    // now a trained table instead of the pure bucket function). The
    // oracle unrolls both steps weight-TABLE-style — margins, micro
    // residuals, bucket grads, and the exact truncating-division Long
    // update per step — then scores under the step-2 weights; doc count
    // n is derived in-query on both engines, so one SQL text holds at
    // every sf.
    Q("q_linear_train_apply", LrTrainApplyOracleSql,
      (s, d) => {
        val docs = t(s, d, "documents")
        val y = when(col("source") === "src0", 1L).otherwise(0L)
        val trained = TextAnalysis.logisticTrainN(docs, "text", y,
          LrInitWeights, steps = 2, lrMicro = 1000000L, n = docs.count())
        TextAnalysis.linearMargins(docs, "doc_id", "text", trained)
          .orderBy("doc_id")
      }),

    // Scoring under a STORED model — the registry split for the
    // classifier, completing the family the other trained artifacts
    // already have (cluster table, IVF/PQ indexes, BPE merges): training
    // runs once per corpus version and parquets its 256-weight table;
    // every scoring pass loads the model (one bounded 256-row collect,
    // the centroid-table contract) and pays ONLY the no-shuffle margin
    // fold over the scan. Exact-Long training round-trips parquet, so
    // from-model == the inline train+apply chain and the oracle text is
    // shared with q_linear_train_apply.
    Q("q_linear_apply_from_model", LrTrainApplyOracleSql,
      (s, d) => {
        val docs = t(s, d, "documents")
        val weights = Tables.parquet(s, materializedLrModelDir(s, d))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).map(_._2).toSeq
        TextAnalysis.linearMargins(docs, "doc_id", "text", weights)
          .orderBy("doc_id")
      }),

    // The classifier model-REFRESH verb, gated by the DRIFT PANEL — the
    // monitoring → action edge closed for the quality model: the frozen
    // classifier is base-slice-trained (materializedLrBaseModelDir);
    // the decision reads q_drift_panel's own term table collapsed to
    // the per-source PSI of the 'quality' feature (panelPsiBySource —
    // the same 16 bucket terms the panel publishes, so the monitor and
    // the trigger cannot drift apart). The model served is the CURRENT
    // version of materializedLrRegistryDir, whose trigger is that gate:
    // past the threshold (spark.graft.lr.refreshPsiMicro, default -1:
    // PSI ≥ 0, so the registered query always fires and the oracle
    // prices the retrained serve) v1 is the model RETRAINED on the
    // current corpus (the q_linear_apply_from_model artifact — exact
    // Long training makes retrained == the two-step chain). Output is
    // the trigger readout JOINED with the served scores per source:
    // the oracle composes the panel-PSI CTEs with the unrestricted
    // train→apply chain, so a drift on EITHER side breaks the hash.
    // TextAnalysisSpec pins the threshold wiring both ways.
    Q("q_classifier_refresh", {
      val qs = TextAnalysis.qualityScoreSql("text")
      Some(s"""WITH ${panelPsiCtes(s"floor(($qs) * 1000000.0)", 1000000L)},
              |$lrTrainApplyCtes,
              |rsc AS (SELECT tk.source, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
              |  FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum(w2.w) AS mm
              |      FROM occ JOIN w2 ON w2.b = occ.b GROUP BY occ.doc_id) s
              |    ON s.doc_id = tk.doc_id),
              |rcomp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(mm) AS BIGINT) AS score_sum_micro
              |  FROM rsc GROUP BY source)
              |SELECT c.source, p.psi_micro, c.n_docs, c.score_sum_micro
              |FROM rcomp c JOIN psis p USING (source)
              |ORDER BY c.source""".stripMargin)
    },
      (s, d) => {
        val comp = TextAnalysis.linearMargins(t(s, d, "documents"),
            "doc_id", "text", currentLrWeights(s, d), keepCols = Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("score_micro").as("score_sum_micro"))
        comp.join(panelPsiBySource(s, d, "quality"), Seq("source"))
          .select(col("source"), col("psi_micro"), col("n_docs"),
            col("score_sum_micro"))
          .orderBy("source")
      }),

    // The classifier served THROUGH THE REGISTRY POINTER
    // (materializedLrRegistryDir). Pointer → v1 and exact-Long training
    // round-trips parquet, so the oracle is the unrestricted two-step
    // train→apply chain. TextAnalysisSpec pins serve-current ==
    // q_linear_train_apply row-for-row.
    Q("q_lr_serve_current", LrTrainApplyOracleSql,
      (s, d) => TextAnalysis.linearMargins(t(s, d, "documents"),
          "doc_id", "text", currentLrWeights(s, d))
        .orderBy("doc_id")),

    // EVALUATION of the trained classifier — the verb that closes the
    // train → apply → EVALUATE loop (q_linear_train_apply scores; this
    // measures): confusion matrix + precision/recall/F1/accuracy of the
    // same two-step-trained weights against the weak labels, prediction
    // = margin > 0. One corpus scan (margins ride the scan, the matrix
    // is a single 4-counter aggregate); the rates are exact integer-
    // micro divisions over the counters — F1 in the single-division
    // 2tp/(2tp+fp+fn) form so no rounded rate compounds. The oracle
    // unrolls the identical two GD steps (the q_linear_train_apply
    // chain), then folds the same confusion cells; all counters are
    // non-negative so DuckDB's flooring // equals Spark's truncating div.
    Q("q_classifier_eval", {
      def step(i: Int): String = {
        val (wp, m, r, g, w) = (s"w${i - 1}", s"m$i", s"r$i", s"g$i", s"w$i")
        s"""$m AS (SELECT tk.doc_id, tk.y, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
           |  FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum($wp.w) AS mm
           |    FROM occ JOIN $wp ON $wp.b = occ.b GROUP BY occ.doc_id) s
           |  ON s.doc_id = tk.doc_id),
           |$r AS (SELECT doc_id, CAST(round((1.0/(1.0+exp(-CAST(mm AS DOUBLE)/1e6))
           |    - CAST(y AS DOUBLE))*1e6, 0) AS BIGINT) AS rm FROM $m),
           |$g AS (SELECT occ.b, CAST(sum($r.rm) AS BIGINT) AS gg
           |  FROM occ JOIN $r ON $r.doc_id = occ.doc_id GROUP BY occ.b),
           |$w AS (SELECT $wp.b, $wp.w - (CASE WHEN coalesce($g.gg, 0) >= 0
           |    THEN (1000000 * coalesce($g.gg, 0)) // (1000000 * cnt.n)
           |    ELSE -((-(1000000 * coalesce($g.gg, 0))) // (1000000 * cnt.n)) END) AS w
           |  FROM $wp LEFT JOIN $g ON $g.b = $wp.b CROSS JOIN cnt)""".stripMargin
      }
      Some(s"""WITH toks AS (SELECT doc_id,
              |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
              |    list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS t
              |  FROM documents),
              |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              |occ AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
              |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
              |w0 AS (SELECT CAST(b AS BIGINT) AS b,
              |    CAST(b * 2654435761 % 1997 - 998 AS BIGINT) AS w
              |  FROM (SELECT unnest(range(256)) AS b)),
              |${step(1)},
              |${step(2)},
              |sc AS (SELECT tk.y, CAST(coalesce(s.mm, 0) AS BIGINT) AS mm
              |  FROM toks tk LEFT JOIN (SELECT occ.doc_id, sum(w2.w) AS mm
              |      FROM occ JOIN w2 ON w2.b = occ.b GROUP BY occ.doc_id) s
              |    ON s.doc_id = tk.doc_id),
              |c AS (SELECT
              |  CAST(coalesce(sum(CASE WHEN y = 1 AND mm > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
              |  CAST(coalesce(sum(CASE WHEN y = 0 AND mm > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
              |  CAST(coalesce(sum(CASE WHEN y = 1 AND mm <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
              |  CAST(coalesce(sum(CASE WHEN y = 0 AND mm <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
              |  FROM sc)
              |SELECT tp, fp, fn, tn,
              |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000000 * tp) // (tp + fp) END AS BIGINT) AS precision_micro,
              |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_micro,
              |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2000000 * tp) // (2 * tp + fp + fn) END AS BIGINT) AS f1_micro,
              |  CAST(CASE WHEN tp + fp + fn + tn = 0 THEN 0 ELSE (1000000 * (tp + tn)) // (tp + fp + fn + tn) END AS BIGINT) AS accuracy_micro
              |FROM c""".stripMargin)
    },
      (s, d) => {
        val docs = t(s, d, "documents")
        val y = when(col("source") === "src0", 1L).otherwise(0L)
        val trained = TextAnalysis.logisticTrainN(docs, "text", y,
          LrInitWeights, steps = 2, lrMicro = 1000000L, n = docs.count())
        TextAnalysis.classifierEval(docs, "text", y, trained)
      }),

    // HELD-OUT evaluation — q_classifier_eval measures on its own
    // training data, the one number every ML practitioner distrusts;
    // this composes the content-hash split (q_hash_split's md5 buckets:
    // train < 800, valid in [800, 900)) so training sees ONLY the train
    // split (n = its count) and the confusion matrix folds ONLY the
    // valid split. Same one-scan/4-counter shape; the oracle unrolls the
    // identical two GD steps over the train bucket and scores the valid
    // bucket — split membership, training arithmetic, and the fold are
    // each already-oracled pieces composed.
    Q("q_classifier_eval_holdout",
      Some(s"""WITH ${holdoutClassifierCtes},
              |c AS (SELECT
              |  CAST(coalesce(sum(CASE WHEN y = 1 AND mm > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
              |  CAST(coalesce(sum(CASE WHEN y = 0 AND mm > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
              |  CAST(coalesce(sum(CASE WHEN y = 1 AND mm <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
              |  CAST(coalesce(sum(CASE WHEN y = 0 AND mm <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
              |  FROM sc)
              |SELECT tp, fp, fn, tn,
              |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000000 * tp) // (tp + fp) END AS BIGINT) AS precision_micro,
              |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_micro,
              |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2000000 * tp) // (2 * tp + fp + fn) END AS BIGINT) AS f1_micro,
              |  CAST(CASE WHEN tp + fp + fn + tn = 0 THEN 0 ELSE (1000000 * (tp + tn)) // (tp + fp + fn + tn) END AS BIGINT) AS accuracy_micro
              |FROM c""".stripMargin),
      (s, d) => {
        val docs = Mixture.hashSplit(t(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        val y = when(col("source") === "src0", 1L).otherwise(0L)
        val train = docs.filter(col("split") === "train")
        val trained = TextAnalysis.logisticTrainN(train, "text", y,
          LrInitWeights, steps = 2, lrMicro = 1000000L, n = train.count())
        TextAnalysis.classifierEval(
          docs.filter(col("split") === "valid"), "text", y, trained)
      }),

    // The margin-threshold OPERATING CURVE over the held-out split —
    // the q_ann_probe_curve pattern for the quality gate: confusion
    // counters + precision/recall/F1/accuracy at five margin thresholds
    // (prediction = margin > thr), the table a deployment picks its
    // gate's operating point from. One valid-split scan: margins ride
    // the scan, each row joins the BROADCAST 5-row threshold dim, the
    // matrix is a 5-group 4-counter aggregate. The oracle derives all
    // five levels from ONE instantiation of the held-out chain.
    Q("q_classifier_curve",
      Some(s"""WITH ${holdoutClassifierCtes},
              |lv AS (SELECT CAST(unnest([${CurveThresholdsMicro.mkString(", ")}]) AS BIGINT) AS thr_micro),
              |c AS (SELECT lv.thr_micro,
              |  CAST(coalesce(sum(CASE WHEN sc.y = 1 AND sc.mm > lv.thr_micro THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
              |  CAST(coalesce(sum(CASE WHEN sc.y = 0 AND sc.mm > lv.thr_micro THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
              |  CAST(coalesce(sum(CASE WHEN sc.y = 1 AND sc.mm <= lv.thr_micro THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
              |  CAST(coalesce(sum(CASE WHEN sc.y = 0 AND sc.mm <= lv.thr_micro THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
              |  FROM sc CROSS JOIN lv GROUP BY lv.thr_micro)
              |SELECT thr_micro, tp, fp, fn, tn,
              |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (1000000 * tp) // (tp + fp) END AS BIGINT) AS precision_micro,
              |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_micro,
              |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2000000 * tp) // (2 * tp + fp + fn) END AS BIGINT) AS f1_micro,
              |  CAST(CASE WHEN tp + fp + fn + tn = 0 THEN 0 ELSE (1000000 * (tp + tn)) // (tp + fp + fn + tn) END AS BIGINT) AS accuracy_micro
              |FROM c ORDER BY thr_micro""".stripMargin),
      (s, d) => {
        val docs = Mixture.hashSplit(t(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        val y = when(col("source") === "src0", 1L).otherwise(0L)
        val train = docs.filter(col("split") === "train")
        val trained = TextAnalysis.logisticTrainN(train, "text", y,
          LrInitWeights, steps = 2, lrMicro = 1000000L, n = train.count())
        TextAnalysis.classifierCurve(
            docs.filter(col("split") === "valid"), "text", y, trained,
            CurveThresholdsMicro)
          .orderBy("thr_micro")
      }),

    // Benchmark decontamination: drop corpus docs sharing any word 13-gram
    // with the benchmark set (src0 stands in for an eval suite) — the
    // GPT-3/PaLM decontamination rule. Spark joins on xxhash64(gram)
    // (8-byte shuffle keys); the oracle joins on gram text — identical
    // results absent a 2^-64 hash collision.
    Q("q_decontaminate",
      Some("""WITH toks AS (SELECT doc_id, source,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id, source,
             |    unnest([array_to_string(list_slice(t, i, i+12), ' ')
             |            FOR i IN range(1, greatest(len(t)-11, 1))]) AS g
             |  FROM toks WHERE len(t) >= 13),
             |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
             |bad AS (SELECT DISTINCT doc_id FROM grams
             |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench))
             |SELECT d.doc_id FROM documents d
             |WHERE d.source <> 'src0' AND d.doc_id NOT IN (SELECT doc_id FROM bad)
             |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        Decontaminate.decontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", n = 13)
          .select("doc_id")
          .orderBy("doc_id")
      }),

    // The DATA RECIPE as one artifact — the composition every LLM
    // pipeline ships: quality gates (q_gopher_rules' Gopher rules,
    // ANDed), near-dup losers dropped (q_dedup_apply's cluster table,
    // read from the materialized artifact), and benchmark
    // decontamination (q_decontaminate's 13-gram rule), written once
    // per corpus version as a kept-ids manifest (ArtifactCache). The
    // query prices what a trainer pays: one scan of the manifest. The
    // oracle composes the three stages' own oracle texts — closure
    // losers, gram-join bad set, gate clauses — over the same corpus.
    Q("q_curation_manifest",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes()}
              |$manifestKeepSelect""".stripMargin),
      (s, d) =>
        Tables.parquet(s, materializedManifestDir(s, d))
          .select("doc_id", "source")
          .orderBy("doc_id")),

    // The manifest SURVIVING the nightly append — same recipe, but the
    // near-dup stage reads the incrementally-maintained cluster table
    // (base build + updateClusters merge + roll-forward) instead of the
    // full rebuild: gates and decontamination commute with an append
    // per-doc, and incremental == full for the clusters is the
    // frozen-LSH law, so the whole pipeline now has an append story
    // with no full recompute anywhere and the oracle text is unchanged.
    Q("q_curation_manifest_incr",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes()}
              |$manifestKeepSelect""".stripMargin),
      (s, d) =>
        Tables.parquet(s, materializedManifestIncrDir(s, d))
          .select("doc_id", "source")
          .orderBy("doc_id")),

    // The DELTA manifest — append-night maintenance in O(increment):
    // q_curation_manifest_incr still re-scans the corpus for gates and
    // decontamination; this variant rolls the per-doc verdicts forward
    // (they are append-stable under the FROZEN benchmark — the standard
    // convention: an eval set does not grow with the corpus) and
    // touches only the increment, the frozen 13-gram store, and the
    // diff of two id tables (losers are monotone under cluster merges,
    // so newly-losing = merged losers minus base losers). See
    // materializedDeltaManifestDir for the identity. The oracle is the
    // manifest recipe with the benchmark CTE frozen to the base slice.
    Q("q_curation_manifest_delta",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes(" AND doc_id % 4 <> 3")}
              |$manifestKeepSelect""".stripMargin),
      (s, d) =>
        Tables.parquet(s, materializedDeltaManifestDir(s, d))
          .select("doc_id", "source")
          .orderBy("doc_id")),

    // The delta manifest COMPOSED over two append nights — verdicts
    // rolled forward TWICE (night 1 from the night-0 artifact, night 2
    // from night 1's output), each night touching only its increment,
    // the frozen gram store, and the per-night loser diff from the
    // cluster cycle's rungs. The oracle is the frozen-bench recipe from
    // scratch (benchmark = src0 ∩ the night-0 base), unchanged in form
    // from q_curation_manifest_delta — only the freeze slice moves —
    // pinning delta ∘ delta == full at the CORRECTNESS gate, not just
    // in a spec.
    Q("q_curation_manifest_delta2",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes(" AND doc_id % 4 < 2")}
              |$manifestKeepSelect""".stripMargin),
      (s, d) =>
        Tables.parquet(s, materializedDelta2ManifestDir(s, d))
          .select("doc_id", "source")
          .orderBy("doc_id")),

    // The NIGHTLY CAPSTONE — one registered query that executes the whole
    // append night for one slice (the id % 4 == 3 increment every verb
    // family uses) and serves all three artifacts it lands: the cluster
    // table rolled forward (build → merge → compact), the IVF index with
    // the night's generation appended under the frozen base quantizer,
    // and the delta manifest (verdicts rolled forward, O(increment)).
    // This is the entry a pipeline operator actually runs at 02:00 —
    // everything it composes is an already-oracled verb; the capstone
    // pins their COMPOSITION at the correctness gate by serving the
    // three readouts as one tagged union (artifact, k, v): clusters as
    // (doc_id, rep), the ANN top-10 as (q_id·100+rn, c_id), the manifest
    // as (doc_id, source). The oracle is the three existing texts —
    // full-corpus closure, base-trained IVF chain, frozen-bench manifest
    // recipe — UNION'd under the same tags (the closure and manifest
    // share one reach/losers CTE spine; the IVF chain nests as a
    // WITH-subquery so its CTE names stay scoped).
    Q("q_nightly_roll",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes(" AND doc_id % 4 <> 3")},
              |clu AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep
              |  FROM reach GROUP BY v),
              |ann AS (SELECT q_id, c_id, rn FROM
              |  (${ivfOracleSqlFor(" WHERE vec_id % 4 <> 3")}))
              |SELECT 'clusters' AS artifact, CAST(doc_id AS BIGINT) AS k,
              |  CAST(rep AS VARCHAR) AS v FROM clu
              |UNION ALL
              |SELECT 'ann' AS artifact, CAST(q_id * 100 + rn AS BIGINT) AS k,
              |  CAST(c_id AS VARCHAR) AS v FROM ann
              |UNION ALL
              |SELECT 'manifest' AS artifact, CAST(d.doc_id AS BIGINT) AS k,
              |  d.source AS v FROM documents d
              |WHERE d.source <> 'src0'
              |  AND d.doc_id IN (SELECT doc_id FROM gated)
              |  AND d.doc_id NOT IN (SELECT v FROM losers)
              |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
              |ORDER BY artifact, k""".stripMargin),
      (s, d) => {
        val clusters = Tables.parquet(s, materializedCompactClusterDir(s, d) + "/clusters")
          .select(lit("clusters").as("artifact"),
            col("v").cast("long").as("k"),
            col("cluster_rep").cast("string").as("v"))
        val idx = materializedIvfIncrIndexDir(s, d)
        val ann = Similarity.ivfKnnFromIndex(
            Tables.parquet(s, idx + "/postings"),
            t(s, d, "embeddings").filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10,
            Tables.parquet(s, idx + "/centroids"), "cell", "centroid",
            nProbe = 4)
          .select(lit("ann").as("artifact"),
            (col("q_id") * 100 + col("rn")).cast("long").as("k"),
            col("c_id").cast("string").as("v"))
        val manifest = Tables.parquet(s, materializedDeltaManifestDir(s, d))
          .select(lit("manifest").as("artifact"),
            col("doc_id").cast("long").as("k"),
            col("source").as("v"))
        clusters.unionAll(ann).unionAll(manifest)
          .orderBy("artifact", "k")
      }),

    // The END of the pipeline: manifest-kept documents packed into
    // 512-token training shards under the STORED tokenizer — what the
    // whole engine exists to emit. Composes three artifacts (the
    // curation manifest, the BPE merge table, q_pack_bpe's budget
    // packing): the trainer-side job is one semi-join of documents
    // against the manifest, token counts riding the scan under the
    // loaded merges, and the per-source running-sum shard assignment.
    // The oracle composes the manifest keep-set CTEs with q_pack_bpe's
    // windowed cumsum restricted to kept docs.
    Q("q_pack_manifest",
      Some(s"""WITH RECURSIVE ${manifestKeepCtes()},
              |kept AS (SELECT d.doc_id, d.source, d.text FROM documents d
              |  WHERE d.source <> 'src0'
              |    AND d.doc_id IN (SELECT doc_id FROM gated)
              |    AND d.doc_id NOT IN (SELECT v FROM losers)
              |    AND d.doc_id NOT IN (SELECT doc_id FROM bad)),
              |ap AS (SELECT doc_id, source, $bpeAppliedSql AS ap FROM kept),
              |dd AS (SELECT doc_id, source, CAST(len(list_filter(string_split(trim(ap), ' '),
              |  t -> t <> '|' AND t <> '')) AS BIGINT) AS n_toks FROM ap)
              |SELECT doc_id, source, n_toks,
              |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS start_off,
              |  CAST((sum(n_toks) OVER w - n_toks) // 512 AS BIGINT) AS shard
              |FROM dd WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val manifest = Tables.parquet(s, materializedManifestDir(s, d))
          .select("doc_id")
        val merges = Tables.parquet(s, materializedBpeMergesDir(s, d))
          .orderBy("ord").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val kept = tFan(s, d, "documents")
          .join(manifest, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            Bpe.tokenCount(col("text"), merges).cast("long").as("n_toks"))
        Pack.byBudget(kept, col("source"), col("doc_id"), col("n_toks"),
            budget = 512L)
          .withColumnRenamed("offset", "start_off")
          .orderBy("doc_id")
      }),

    // ---- retrieval scoring / sequence packing ---------------------------

    // BM25 relevance over a fixed query-term set (Robertson SIGIR '94).
    // Scores are exact integer micros: per-(doc, term) round then sum, so
    // the per-doc total is summation-order-independent. The oracle mirrors
    // the Spark arithmetic term-for-term (same literal/association order);
    // 'dup' is rare in this corpus (df ~5%) => high idf, 'scan'/'vector'
    // are common => the score actually discriminates.
    Q("q_bm25", Some(bm25Sql("SELECT doc_id, score_micro FROM scored ORDER BY doc_id")),
      (s, d) =>
        Bm25.scoreMicros(t(s, d, "documents"), "doc_id", col("text"), bm25Terms)
          .orderBy("doc_id")),

    // Retrieval-filtered curation: BM25 score -> global top-k. The
    // sort+limit lowers to TakeOrderedAndProject (per-partition heaps, no
    // global sort) — asserted in PlanAuditSpec.
    Q("q_bm25_topk", Some(bm25Sql(
        "SELECT doc_id, score_micro FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20")),
      (s, d) =>
        Bm25.topK(t(s, d, "documents"), "doc_id", col("text"), bm25Terms, k = 20)),

    // Doc-range-sharded inverted index (operators/Index.scala): the
    // retrieval primitive behind BM25/TF-IDF serving. Posting lists are
    // sharded by doc-id block (shard_idx = doc_id/100) so a hot term
    // never concentrates on one reducer/row — the doc-partitioned layout
    // of distributed search engines. Postings dump as CSV strings
    // (engine-portable; array columns hash differently across engines).
    Q("q_inverted_index",
      Some("""WITH pairs AS (SELECT DISTINCT doc_id,
             |    unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '')) AS term
             |  FROM documents),
             |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY term),
             |shards AS (SELECT term, doc_id // 100 AS shard_idx,
             |    array_to_string(list_sort(list(doc_id)), ',') AS postings,
             |    CAST(count(*) AS BIGINT) AS n_in_shard
             |  FROM pairs GROUP BY term, shard_idx)
             |SELECT s.term, CAST(s.shard_idx AS BIGINT) AS shard_idx, s.postings,
             |  s.n_in_shard, d.df
             |FROM shards s JOIN df d USING (term)
             |ORDER BY term, shard_idx""".stripMargin),
      (s, d) =>
        Index.postingShards(t(s, d, "documents"), "doc_id", "text",
            blockSpan = 100L)
          .orderBy("term", "shard_idx")),

    // Sequence packing: assign docs to fixed 512-token training shards by
    // a running token budget per source (the T5/GPT concat-and-chunk
    // step). One window per pack key — partition-parallel across sources,
    // no global sort; offsets/shards are exact longs.
    Q("q_pack",
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents)
             |SELECT doc_id, source, n_toks,
             |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS start_off,
             |  CAST((sum(n_toks) OVER w - n_toks) // 512 AS BIGINT) AS shard
             |FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Pack.byBudget(
            t(s, d, "documents").select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_toks")),
            col("source"), col("doc_id"), col("n_toks"), budget = 512L)
          .withColumnRenamed("offset", "start_off")
          .orderBy("doc_id")),

    // BPE training signal: adjacent-token pair counts over the spaced
    // representation — the one-scan partial-aggregable groupBy each
    // training round runs. Top-32 by (count desc, pair asc) is a total
    // order, so the LIMIT is deterministic and hash-oracled.
    Q("q_bpe_pairs",
      Some(s"""WITH t AS (SELECT string_split(trim($bpeBaseSql), ' ') AS l FROM documents),
              |p AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr FROM t)
              |SELECT pr[1] AS x, pr[2] AS y, CAST(count(*) AS BIGINT) AS c FROM p
              |WHERE pr[1] <> '|' AND pr[2] <> '|' AND pr[1] <> '' AND pr[2] <> ''
              |GROUP BY 1, 2 ORDER BY c DESC, x, y LIMIT 32""".stripMargin),
      (s, d) =>
        Bpe.pairCounts(tFan(s, d, "documents"), col("text"))
          .select(col("x"), col("y"), col("c").cast("long").as("c"))
          .orderBy(col("c").desc, col("x").asc, col("y").asc)
          .limit(32)),

    // The multi-round BPE TRAINING LOOP itself, oracled end-to-end: round
    // r counts adjacent pairs with the first 16·(r−1) learned merges
    // APPLIED (the evolving working form is what makes multi-char tokens
    // emerge) and takes the top 16 by (count desc, pair asc) — exactly
    // Bpe.trainMerges' trajectory, so the output's (x, y) sequence IS the
    // inlined BpeMerges table with its training-time counts attached
    // (pinned by BpeSpec). The DuckDB oracle unrolls the same three
    // rounds over the same prefix replace chains — tokenizer induction
    // as a first-class, cross-engine-verified pipeline op. Scale shape
    // per round: one corpus scan, one partial-aggregable groupBy, a
    // 16-row TakeOrdered — never a self-join, merge table stays KBs.
    Q("q_bpe_train",
      Some(s"""SELECT CAST(round AS BIGINT) AS round, x, y, CAST(c AS BIGINT) AS c
              |FROM (${bpeRoundSql(1, 0)} UNION ALL ${bpeRoundSql(2, 16)}
              |      UNION ALL ${bpeRoundSql(3, 32)})
              |ORDER BY round, c DESC, x, y""".stripMargin),
      // Served by the ONE-SCAN histogram core (r21, VERDICT item 4):
      // pairCountsHist's frequency-weighted counts are bit-equal to
      // pairCounts' corpus counts (merges/pairs never cross the ` | `
      // word boundary — BpeSpec pins trainMergesHist == trainMerges), so
      // the three evolving-merge rounds run over the vocab-scale histogram
      // instead of three corpus scans with growing replace chains. The
      // corpus-scan-per-round twin remains exercised by the shared trainer
      // core (Bpe.trainMerges, BpeSpec); this query prices the production
      // (Sennrich '16) trainer shape.
      (s, d) => bpeTrainRounds(s, d)),

    // The same three training rounds derived from the ONE-SCAN word
    // histogram (Bpe.trainMergesHist's shape — Sennrich '16's standard
    // formulation: merges x O(vocab), corpus-scan count independent of
    // merge count). Pair counts weighted by word frequency equal corpus
    // pair counts exactly (merges/pairs never cross the ` | ` boundary),
    // so this emits BYTE-IDENTICAL rows to q_bpe_train (both are served by
    // bpeTrainRounds); its oracle re-derives the trajectory from the same
    // histogram in SQL, q_bpe_train's from corpus scans. BpeSpec pins
    // trainMergesHist == trainMerges.
    Q("q_bpe_train_hist",
      Some(s"""WITH $bpeHistSql
              |SELECT CAST(round AS BIGINT) AS round, x, y, CAST(c AS BIGINT) AS c
              |FROM (${bpeHistRoundSql(1, 0)} UNION ALL ${bpeHistRoundSql(2, 16)}
              |      UNION ALL ${bpeHistRoundSql(3, 32)})
              |ORDER BY round, c DESC, x, y""".stripMargin),
      (s, d) => bpeTrainRounds(s, d)),

    // BPE encode under the learned merge table (inlined literal — trained
    // once at sf0.01 by Bpe.trainMerges(docs, text, 16, 3), reproducible
    // byte-for-byte per BpeSpec's determinism test). The oracle re-applies
    // the IDENTICAL leftmost-non-overlapping replace chain: Spark
    // `replace` and DuckDB `replace` share Java-String.replace semantics,
    // so token arrays hash-match exactly.
    Q("q_bpe_encode", BpeEncodeOracleSql,
      (s, d) => {
        val toks = Bpe.encode(col("text"), BpeMerges)
        t(s, d, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_bpe"),
            array_join(slice(toks, 1, 12), ",").as("head"))
          .orderBy("doc_id")
      }),

    // The tokenizer artifact lifecycle completed — train → STORE → encode:
    // the registered merge table (trained once at sf0.01; training itself
    // is oracled live by q_bpe_train / q_bpe_train_hist) is parquet'd via
    // ArtifactCache as the model-registry artifact, and the encode pass
    // reads it back (one 48-row bounded collect — the model-table
    // contract) before building the same leftmost-non-overlapping merge
    // chain. Result identical to the inlined-literal encode, so the
    // oracle text is shared; the bench line prices the serve path a
    // production tokenizer runs (read model, encode corpus).
    Q("q_bpe_encode_from_table", BpeEncodeOracleSql,
      (s, d) => {
        val dir = materializedBpeMergesDir(s, d)
        val merges = Tables.parquet(s, dir).orderBy("ord").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val toks = Bpe.encode(col("text"), merges)
        t(s, d, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            size(toks).cast("long").as("n_bpe"),
            array_join(slice(toks, 1, 12), ",").as("head"))
          .orderBy("doc_id")
      }),

    // Tokenizer EVALUATION — the verb that closes the BPE lifecycle
    // (train → store → encode → EVALUATE, mirroring q_classifier_eval
    // for the quality gate): per-source compression of the corpus under
    // the STORED merge table — doc counts, total BPE tokens, total
    // chars, and chars-per-token as an exact integer-micro division
    // (operands non-negative, so DuckDB's flooring // == Spark's
    // truncating Long division). This is what a tokenizer report
    // actually monitors per mixture source: a source whose compression
    // collapses is out-of-domain for the learned merges. One corpus
    // scan — token counts ride the scan as the same per-row expression
    // chain q_pack_bpe budgets with; the aggregate is 5 source keys.
    Q("q_bpe_eval",
      Some(s"""WITH a AS (SELECT doc_id, source,
              |    CAST(length(text) AS BIGINT) AS nc, $bpeAppliedSql AS ap FROM documents),
              |tk AS (SELECT source, nc,
              |    CAST(len(list_filter(string_split(trim(ap), ' '),
              |      t -> t <> '|' AND t <> '')) AS BIGINT) AS nt FROM a)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS n_bpe,
              |  CAST(sum(nc) AS BIGINT) AS n_chars,
              |  CAST((1000000 * CAST(sum(nc) AS BIGINT)) // CAST(sum(nt) AS BIGINT) AS BIGINT) AS chars_per_tok_micro
              |FROM tk GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => bpeCompressionBySource(s, d, materializedBpeMergesDir(s, d))
        .orderBy("source")),

    // The tokenizer refresh TRIGGER readout — q_bpe_eval's per-source
    // compression, but under the FROZEN base-slice-trained merge table
    // (materializedBpeBaseDir): the monitoring row a tokenizer owner
    // watches per mixture source, and the decision input q_bpe_refresh
    // acts on. The oracle derives the base-trained trajectory FROM DATA
    // (duckBpeTrainedCtes over the base slice — the scalar-subquery
    // unroll, see the block comment above) and prices the same one-scan
    // compression readout, so a drifted trainer on EITHER side breaks
    // the hash.
    Q("q_bpe_refresh_trigger",
      Some(s"""WITH ${duckBpeTrainedCtes("b", " WHERE doc_id % 4 <> 3")},
              |a AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nc,
              |    ${duckBpeTrainedApplySql("b")} AS ap FROM documents),
              |tk AS (SELECT source, nc,
              |    CAST(len(list_filter(string_split(trim(ap), ' '),
              |      t -> t <> '|' AND t <> '')) AS BIGINT) AS nt FROM a)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS n_bpe,
              |  CAST(sum(nc) AS BIGINT) AS n_chars,
              |  CAST((1000000 * CAST(sum(nc) AS BIGINT)) // CAST(sum(nt) AS BIGINT) AS BIGINT) AS chars_per_tok_micro
              |FROM tk GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => bpeCompressionBySource(s, d, materializedBpeBaseDir(s, d))
        .orderBy("source")),

    // The tokenizer model-REFRESH verb — the last artifact row without a
    // refresh edge (SURVEY §2.3.2: "frozen merges encode any increment"
    // is true for APPEND, false under drift). It serves the CURRENT
    // version of materializedBpeRegistryDir, whose trigger reads the
    // current corpus's compression under the frozen base-trained table;
    // past the threshold (default: forced, so the oracle prices the full
    // retrain) the merges RETRAIN on the current corpus via the one-scan
    // histogram trainer into v1 and the pointer flips. The oracle is fully
    // data-dependent: it re-derives the retrained 3-round trajectory in
    // SQL and applies the 48 learned merges through scalar subqueries —
    // the first runtime-trained model with a cross-engine-verified serve.
    // BpeSpec pins threshold wiring both ways and that the refreshed
    // table never compresses the corpus worse than the frozen one.
    Q("q_bpe_refresh", BpeRetrainedEncodeOracleSql, serveBpeCurrent),

    // The tokenizer refresh gated by the DRIFT PANEL — q_bpe_refresh's
    // decision input swapped from the compression scalar to the
    // monitoring surface: per-source PSI of the panel's 'tok_est'
    // feature (token-count distribution — exactly what a drifted corpus
    // shifts under a frozen tokenizer), read from the SAME term table
    // q_drift_panel publishes. Past spark.graft.bpe.refreshPsiMicro
    // (default -1 = fire, so the oracle prices the retrained serve) the
    // merges retrain on the current corpus (materializedBpeRetrainDir,
    // the registry's trainer in its own artifact). Output composes
    // trigger + serve: per mixture source, the panel PSI joined with the
    // corpus compression readout under the SERVED merge table; the
    // oracle re-derives both sides (panel CTEs + the data-dependent
    // retrained-trainer unroll), so drift in the panel arithmetic, the
    // trainer, OR the encode breaks the hash.
    // BpeSpec pins the threshold wiring both ways.
    Q("q_bpe_refresh_gated",
      Some(s"""WITH ${panelPsiCtes("len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))", 256L)},
              |${duckBpeTrainedCtes("g", "")},
              |ga AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
              |    ${duckBpeTrainedApplySql("g")} AS ap FROM documents),
              |gtk AS (SELECT source, nc,
              |    CAST(len(list_filter(string_split(trim(ap), ' '),
              |      t -> t <> '|' AND t <> '')) AS BIGINT) AS nt FROM ga),
              |gcomp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(nt) AS BIGINT) AS n_bpe,
              |    CAST(sum(nc) AS BIGINT) AS n_chars
              |  FROM gtk GROUP BY source)
              |SELECT c.source, p.psi_micro, c.n_docs, c.n_bpe,
              |  CAST((1000000 * c.n_chars) // c.n_bpe AS BIGINT) AS chars_per_tok_micro
              |FROM gcomp c JOIN psis p USING (source)
              |ORDER BY c.source""".stripMargin),
      (s, d) => {
        // ONE panel scan feeds both the output readout and the gate
        // (eager checkpoint: ≤ n_sources rows)
        val psi = panelPsiBySource(s, d, "tok_est").localCheckpoint(true)
        val servedDir =
          if (panelTrips(psi, s, "spark.graft.bpe.refreshPsiMicro"))
            materializedBpeRetrainDir(s, d) // fresh version, current corpus
          else materializedBpeBaseDir(s, d) // frozen keeps serving
        bpeCompressionBySource(s, d, servedDir).join(psi, Seq("source"))
          .select(col("source"), col("psi_micro"), col("n_docs"),
            col("n_bpe"), col("chars_per_tok_micro"))
          .orderBy("source")
      }),

    // The tokenizer served THROUGH THE REGISTRY POINTER — q_bpe_refresh's
    // body under its registry name. Pointer → v1, so the oracle is the
    // retrained-encode chain. BpeSpec pins serve-current == the encode
    // under merges retrained from first principles.
    Q("q_bpe_serve_current", BpeRetrainedEncodeOracleSql, serveBpeCurrent),

    // Packing with SUBWORD-real budgets: q_pack's window-cumsum shape,
    // but sized by the BPE token count instead of the whitespace estimate.
    Q("q_pack_bpe",
      Some(s"""WITH a AS (SELECT doc_id, source, $bpeAppliedSql AS ap FROM documents),
              |d AS (SELECT doc_id, source, CAST(len(list_filter(string_split(trim(ap), ' '),
              |  t -> t <> '|' AND t <> '')) AS BIGINT) AS n_toks FROM a)
              |SELECT doc_id, source, n_toks,
              |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS start_off,
              |  CAST((sum(n_toks) OVER w - n_toks) // 512 AS BIGINT) AS shard
              |FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        // tFan: same 48-merge tokenCount class as q_pack_budget (which
        // already rides tFan) — the one packing site still on the
        // single-split scan.
        Pack.byBudget(
            tFan(s, d, "documents").select(col("doc_id"), col("source"),
              Bpe.tokenCount(col("text"), BpeMerges).cast("long").as("n_toks")),
            col("source"), col("doc_id"), col("n_toks"), budget = 512L)
          .withColumnRenamed("offset", "start_off")
          .orderBy("doc_id")),

    // Global (keyless) packing: one corpus-wide shard stream ordered by
    // doc_id. The oracle's unpartitioned window is exactly what Spark
    // must NOT run at scale — the implementation goes through the
    // two-phase GlobalRank running sum (plan-asserted: no unpartitioned
    // WindowExec).
    Q("q_pack_global",
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents)
             |SELECT doc_id, n_toks,
             |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS start_off,
             |  CAST((sum(n_toks) OVER w - n_toks) // 512 AS BIGINT) AS shard
             |FROM d WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Pack.globalByBudget(
            t(s, d, "documents").select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_toks")),
            col("doc_id"), col("n_toks"), budget = 512L, chunks = 32)
          .withColumnRenamed("offset", "start_off")
          .orderBy("doc_id")),

    // The whole curation pipeline as ONE composed plan — quality gates
    // (Gopher wc + symbol ratio) -> exact dedup (keep min id) ->
    // benchmark decontamination (13-gram vs src0) -> sequence packing.
    // This is the query a reference user actually runs end-to-end; every
    // stage is the library operator, and the composition stays a single
    // Catalyst plan (filters reach the scan, dedup/decontaminate shuffle
    // digests and 8-byte gram hashes only, packing windows per source).
    Q("q_curation_pipeline",
      Some("""WITH gated AS (
             |  SELECT doc_id, source, text FROM documents
             |  WHERE len(string_split(text, ' ')) BETWEEN 50 AND 100000
             |    AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
             |        <= CAST(0.1 AS DOUBLE) * CAST(length(text) AS DOUBLE)),
             |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
             |uniq AS (SELECT g.doc_id, g.source, g.text FROM gated g JOIN keep USING (doc_id)),
             |toks AS (SELECT doc_id, source,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS tk
             |  FROM (SELECT doc_id, source, text FROM uniq WHERE source <> 'src0'
             |        UNION ALL
             |        SELECT doc_id, source, text FROM documents WHERE source = 'src0')),
             |grams AS (SELECT doc_id, source,
             |    unnest([array_to_string(list_slice(tk, i, i+12), ' ')
             |            FOR i IN range(1, greatest(len(tk)-11, 1))]) AS g
             |  FROM toks WHERE len(tk) >= 13),
             |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
             |bad AS (SELECT DISTINCT doc_id FROM grams
             |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)),
             |clean AS (SELECT u.doc_id, u.source,
             |    CAST(len(string_split(u.text, ' ')) AS BIGINT) AS n_toks
             |  FROM uniq u WHERE u.source <> 'src0'
             |    AND u.doc_id NOT IN (SELECT doc_id FROM bad))
             |SELECT doc_id, source, n_toks,
             |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS start_off,
             |  CAST((sum(n_toks) OVER w - n_toks) // 512 AS BIGINT) AS shard
             |FROM clean WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val gated = docs.filter(
          size(split(col("text"), " ")).between(50, 100000) &&
            (length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double")
              <= lit(0.1) * length(col("text")).cast("double")))
        val keep = Dedup.exact(gated, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val unique = gated.join(keep, Seq("doc_id"), "left_semi")
        val clean = Decontaminate.decontaminate(
          unique.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text", n = 13)
        Pack.byBudget(
            clean.select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_toks")),
            col("source"), col("doc_id"), col("n_toks"), budget = 512L)
          .withColumnRenamed("offset", "start_off")
          .orderBy("doc_id")
      }),

    // Gopher repetition gates (Rae '21 §A1.2): top-2-gram token coverage +
    // duplicate-5-gram fraction, per doc. Spark counts rolling-hash grams
    // (per-row HOFs, no explode/shuffle); the oracle counts gram TEXT —
    // identical absent an intra-doc 2^-64 hash collision. Fractions are
    // exact rational divisions of integer counts.
    Q("q_repetition",
      Some("""WITH b AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> x <> '') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             |    [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS g2,
             |    [array_to_string(list_slice(t, i, i+4), ' ') FOR i IN range(1, len(t)-3)] AS g5
             |  FROM b),
             |s AS (SELECT doc_id, n_tokens,
             |    CAST(coalesce(list_max(list_transform(list_distinct(g2),
             |      x -> len(list_filter(g2, y -> y = x)))), 0) AS BIGINT) AS top2_count,
             |    CAST(len(g5) AS BIGINT) AS n_5grams,
             |    CAST(len(list_distinct(g5)) AS BIGINT) AS n_5grams_distinct
             |  FROM g)
             |SELECT doc_id, n_tokens, top2_count, n_5grams, n_5grams_distinct,
             |  CASE WHEN n_tokens > 0
             |    THEN LEAST(CAST(1.0 AS DOUBLE),
             |      CAST(top2_count * 2 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             |    ELSE CAST(0.0 AS DOUBLE) END AS top2_frac,
             |  CASE WHEN n_5grams > 0
             |    THEN CAST(n_5grams - n_5grams_distinct AS DOUBLE) / CAST(n_5grams AS DOUBLE)
             |    ELSE CAST(0.0 AS DOUBLE) END AS dup5_frac
             |FROM s ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.repetitionSignals(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // Corpus-unigram NLL per doc (CCNet-style perplexity filter proxy):
    // vocab-bounded unigram aggregate -> broadcast cost map -> per-row HOF
    // fold. Per-token micros rounded before the sum (order-independent).
    Q("q_lm_score",
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
             |u AS (SELECT w, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY w),
             |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM toks),
             |cost AS (SELECT w, CAST(round(-ln(c / t) * CAST(1e6 AS DOUBLE), 0) AS BIGINT) AS cost
             |  FROM u CROSS JOIN tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(cost) AS BIGINT) AS nll_micro
             |FROM toks JOIN cost USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.unigramNll(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // Bigram conditional NLL (TextAnalysis.bigramNll): cost(w1 w2) =
    // -ln(c(w1,w2)/c(w1)) summed over adjacent pairs — catches
    // improbable SEQUENCES unigram scoring cannot. Broadcast cost map +
    // per-row HOF fold; per-bigram micros rounded before the sum.
    Q("q_lm_score_bigram",
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS b FROM toks),
             |c2 AS (SELECT b, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY b),
             |c1 AS (SELECT w, CAST(count(*) AS DOUBLE) AS c1 FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY w),
             |cost AS (SELECT b, CAST(round(-ln(c2.c2 / c1.c1) * CAST(1e6 AS DOUBLE), 0) AS BIGINT) AS cost
             |  FROM c2 JOIN c1 ON string_split(c2.b, ' ')[1] = c1.w),
             |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(cost) AS BIGINT) AS nll_micro
             |  FROM bg JOIN cost USING (b) GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
             |  coalesce(s.nll_micro, 0) AS nll_micro
             |FROM documents d LEFT JOIN scored s USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.bigramNll(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // Interpolated Kneser-Ney bigram NLL (Kneser-Ney '95, Chen-Goodman
    // '99): absolute discount D=0.75 + continuation-probability backoff
    // — the smoothed LM score whose statistics all come from the
    // bigram-TYPE table. Fixed IEEE operation order + per-bigram micro
    // rounding before the doc sum make it oracle like the MLE twins.
    Q("q_kneser_ney",
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS b FROM toks),
             |c2 AS (SELECT b, CAST(count(*) AS DOUBLE) AS c2,
             |    string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
             |  FROM bg GROUP BY b),
             |ctx AS (SELECT w1, sum(c2) AS c1, CAST(count(*) AS DOUBLE) AS n1fwd
             |  FROM c2 GROUP BY w1),
             |cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1rev FROM c2 GROUP BY w2),
             |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM c2),
             |cost AS (SELECT b, CAST(round(-ln(
             |      greatest(c2.c2 - 0.75, 0.0) / ctx.c1
             |        + 0.75 * ctx.n1fwd / ctx.c1 * (cont.n1rev / nt.nt)
             |    ) * CAST(1e6 AS DOUBLE), 0) AS BIGINT) AS cost
             |  FROM c2 JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN nt),
             |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(cost) AS BIGINT) AS nll_micro
             |  FROM bg JOIN cost USING (b) GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
             |  coalesce(s.nll_micro, 0) AS nll_micro
             |FROM documents d LEFT JOIN scored s USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        TextAnalysis.knBigramNll(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // Per-source Zipf fit (TextAnalysis.zipfFit): OLS slope of ln(freq)
    // on ln(rank) over each source's term table — natural corpora fit
    // slope ~ -1; deviation flags synthetic/spam shards. Composes term
    // counts + vocab-sized rank window + Trend.olsPerGroup; ln of exact
    // integer counts is the same IEEE double everywhere, so the fit
    // oracles exactly (floored nano/milli scalings).
    Q("q_zipf",
      Some("""WITH tf AS (SELECT g, w, CAST(count(*) AS BIGINT) AS f FROM (
             |    SELECT source AS g, unnest(string_split(lower(text), ' ')) AS w
             |    FROM documents) GROUP BY g, w),
             |rk AS (SELECT g, f, row_number() OVER (PARTITION BY g ORDER BY f DESC, w) AS r FROM tf),
             |d AS (SELECT g,
             |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0) AS HUGEINT) AS x,
             |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0) AS HUGEINT) AS y
             |  FROM rk),
             |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
             |  FROM d GROUP BY g),
             |f AS (SELECT g, n,
             |    CASE WHEN n < 2 OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN NULL
             |      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
             |    CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy
             |  FROM s)
             |SELECT g AS source, n AS vocab,
             |  CAST(floor(slope * 1000000000.0) AS BIGINT) AS slope_nano,
             |  CAST(floor((dsy - slope * dsx) / CAST(n AS DOUBLE) * 0.001) AS BIGINT) AS intercept_milli
             |FROM f ORDER BY source""".stripMargin),
      (s, d) =>
        TextAnalysis.zipfFit(t(s, d, "documents"), "source", "text")
          .select(col("source"), col("n").as("vocab"),
            floor(col("slope") * lit(1e9)).cast("long").as("slope_nano"),
            // zipfFit intercept is in MICRO-ln units; ×0.001 → milli-ln
            floor(col("intercept") * lit(0.001)).cast("long").as("intercept_milli"))
          .orderBy("source")),

    // Domain-mixture reweighting: per-source downsampling fractions that
    // realize a 50/30/20 target mixture (downsample-only — the scarcest
    // source caps the total). Counts are exact; frac/n_keep are the same
    // IEEE expressions in both engines.
    Q("q_mixture",
      Some("""WITH t(src, target_p) AS (VALUES
             |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
             |    ('src2', CAST(0.2 AS DOUBLE))),
             |c AS (SELECT source AS src, CAST(count(*) AS BIGINT) AS n_rows
             |  FROM documents GROUP BY source),
             |j AS (SELECT c.src, n_rows, target_p FROM c JOIN t USING (src)),
             |m AS (SELECT min(CAST(n_rows AS DOUBLE) / target_p) AS mm FROM j)
             |SELECT src AS source, n_rows, target_p,
             |  (target_p * mm) / CAST(n_rows AS DOUBLE) AS frac,
             |  CAST(floor(target_p * mm) AS BIGINT) AS n_keep
             |FROM j, m ORDER BY source""".stripMargin),
      (s, d) =>
        Mixture.weights(t(s, d, "documents"), "source",
            Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
          .orderBy("source")),

    // Temperature-scaled mixture (α=1/2): the multilingual/multi-source
    // flattening recipe — scarcest source kept whole, source s keeps
    // √(n_min/n_s). α fixed at 1/2 because IEEE sqrt is exactly rounded
    // in every engine while pow is not, so the integer rate table and
    // the md5-selected membership are bit-identical cross-engine.
    Q("q_mix_temperature",
      Some("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows
             |  FROM documents GROUP BY source),
             |w AS (SELECT source, n_rows,
             |    CAST(floor(sqrt(CAST(n_rows AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
             |  FROM c),
             |m AS (SELECT min(w_micro) AS wmin FROM w),
             |r AS (SELECT source, n_rows, w_micro,
             |    CAST((wmin * 10000) // w_micro AS BIGINT) AS rate_bp FROM w, m),
             |s AS (SELECT d.source, d.doc_id FROM documents d JOIN r USING (source)
             |      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < r.rate_bp)
             |SELECT r.source, r.n_rows, r.w_micro, r.rate_bp,
             |  CAST(count(s.doc_id) AS BIGINT) AS n_sampled,
             |  CAST(coalesce(sum(s.doc_id), 0) AS BIGINT) AS sum_ids
             |FROM r LEFT JOIN s ON r.source = s.source
             |GROUP BY r.source, r.n_rows, r.w_micro, r.rate_bp
             |ORDER BY r.source""".stripMargin),
      (s, d) =>
        Mixture.temperatureSampleReport(t(s, d, "documents"), "source", "doc_id")
          .orderBy("source")),

    // Skew-robust EXACT distinct count: two-stage dedup-then-count (the
    // value component of the first shuffle spreads any hot key) instead
    // of the built-in distinct aggregate's Expand + single-reducer
    // distinct phase. Same answer as COUNT(DISTINCT ...), scale-safe
    // under key skew.
    Q("q_count_distinct_2stage",
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) =>
        SkewAgg.exactDistinct(t(s, d, "lineitem"), Seq("l_returnflag"),
            col("l_partkey"))
          .orderBy("l_returnflag")),

    // Mergeable distinct-count sketches (Apache DataSketches HLL): build
    // one sketch per source, then hll_union_agg merges the binary
    // sketches WITHOUT rescanning documents — the pre-aggregation pattern
    // that makes corpus-wide distinct stats cheap at 100 TB (sketch
    // tables roll up; raw data is touched once). Rows-only (terminal
    // set: SURVEY.md §2.3.1): sketch estimates are engine-specific; TextAnalysisSpec bounds the error
    // against the exact count.
    Q("q_hll_merge", None,
      (s, d) => {
        val perSource = t(s, d, "documents")
          .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
          .groupBy("source")
          .agg(expr("hll_sketch_agg(w, 12)").as("sk"))
        val merged = perSource
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long").as("est_distinct_tokens"))
          .select(lit("ALL").as("source"), col("est_distinct_tokens"))
        perSource
          .select(col("source"),
            expr("hll_sketch_estimate(sk)").cast("long").as("est_distinct_tokens"))
          .unionByName(merged)
          .orderBy("source")
      }),

    // Semantic decontamination: drop corpus vectors within 0.40 cosine of
    // any benchmark vector (vec_id < 25 stands in for the eval set) —
    // catches paraphrased leakage the n-gram rule misses. Benchmark
    // broadcasts; the corpus never shuffles.
    Q("q_decontaminate_semantic",
      Some("""WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 25),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 25),
             |bad AS (SELECT DISTINCT c.vec_id FROM c, b
             |  WHERE list_cosine_similarity(c.v, b.v) >= CAST(0.40 AS DOUBLE))
             |SELECT c.vec_id FROM c
             |WHERE c.vec_id NOT IN (SELECT vec_id FROM bad)
             |ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Decontaminate.semantic(
            emb.filter(col("vec_id") >= 25),
            emb.filter(col("vec_id") < 25),
            "vec_id", "embedding", threshold = 0.40)
          .select("vec_id")
          .orderBy("vec_id")
      }),

    // One k-means (Lloyd) iteration: broadcast-quantizer assignment + ONE
    // (cell, dim)-keyed shuffle in exact integer micros. This is the
    // training pass that produces ivfKnn's centroid table; oracled on
    // assignment counts and the dim-0 centroid component.
    Q("q_kmeans_step",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |c AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 16),
             |scored AS (SELECT e.vec_id, e.v, c.cell,
             |    list_cosine_similarity(e.v, c.cv) AS sim FROM e CROSS JOIN c),
             |assign AS (SELECT vec_id, v, cell FROM (
             |  SELECT vec_id, v, cell,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
             |  FROM scored) WHERE rn = 1)
             |SELECT cell, CAST(count(*) AS BIGINT) AS n_assigned,
             |  (CAST(sum(CAST(floor(v[1] * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
             |    / CAST(count(*) AS DOUBLE) AS c0
             |FROM assign GROUP BY cell ORDER BY cell""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.centroidRows(
          emb.filter(col("vec_id") < 16), "vec_id", "embedding")
        Similarity.kmeansStep(emb, "vec_id", "embedding", cents)
          .select(col("cell"), col("n_assigned"),
            element_at(col("centroid"), 1).as("c0"))
          .orderBy("cell")
      }),

    // Code-point Shannon entropy — repetition/boilerplate quality signal
    // via the codegen'd CharEntropy expression (one pass per doc, no
    // explode). Oracle recomputes via explode+groupBy; 6dp rounding
    // absorbs the engines' different summation orders.
    Q("q_char_entropy",
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
             |f AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n FROM ch GROUP BY doc_id, c),
             |t AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS tot FROM f GROUP BY doc_id)
             |SELECT f.doc_id, round(-sum((n/tot) * log2(n/tot)), 6) AS entropy
             |FROM f JOIN t USING (doc_id) GROUP BY f.doc_id
             |ORDER BY f.doc_id""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            round(graft.functions.char_entropy(col("text")), 6).as("entropy"))
          .orderBy("doc_id")),

    // Document fingerprint, ORACLED: a 56-bit md5 digest both engines can
    // compute byte-identically (same construction as Checksum.rowDigest).
    // The xxhash-based fingerprint64 + winnow set live in q_winnow
    // (rows-only: no xxhash64 in DuckDB), spec-bounded in PropertySpec /
    // TextAnalysisSpec.
    Q("q_fingerprint",
      Some("""SELECT doc_id,
             |  CAST(CAST('0x' || substr(md5(text), 1, 14) AS BIGINT) AS BIGINT) AS fp56
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            conv(substring(md5(col("text")), 1, 14), 16, 10)
              .cast("long").as("fp56"))
          .orderBy("doc_id")),

    // The ORACLED core of the winnowing path (the q_ivf_assign pattern):
    // Schleimer's min-per-window-of-w selection over 5-char gram hashes,
    // restated on an engine-portable gram hash (56 md5 bits) so BOTH
    // engines re-derive grams, window minima (one window of all grams
    // when m < w, mirroring WinnowHash's lastStart clamp), and the
    // deduplicated fingerprint set from first principles. Bounded to 300
    // docs: per-row construction, more rows pin nothing new.
    Q("q_winnow_md5",
      Some("""WITH d AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id < 300 AND length(text) >= 5),
             |g AS (SELECT doc_id,
             |    [CAST(CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 5)), 1, 14) AS BIGINT) AS BIGINT)
             |     FOR i IN range(1, length(text) - 3)] AS gr FROM d),
             |sel AS (SELECT doc_id, list_distinct(
             |    [list_min(list_slice(gr, CAST(s AS INT) + 1, CAST(s AS INT) + 4))
             |     FOR s IN range(0, greatest(len(gr) - 4, 0) + 1)]) AS fp FROM g)
             |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_winnow,
             |  CAST(list_min(fp) AS BIGINT) AS min_fp,
             |  CAST(list_max(fp) AS BIGINT) AS max_fp
             |FROM sel ORDER BY doc_id""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .filter(col("doc_id") < 300 && length(col("text")) >= 5)
          .select(col("doc_id"), expr(
            "transform(sequence(1, length(text) - 4), " +
              "i -> cast(conv(substr(md5(substring(text, i, 5)), 1, 14), 16, 10) as bigint))")
            .as("gr"))
          .select(col("doc_id"), expr(
            // one window over all grams when m < w (greatest clamp) —
            // sequence stays ascending, matching the oracle's range()
            "array_distinct(transform(sequence(0, greatest(size(gr) - 4, 0)), " +
              "s -> array_min(slice(gr, s + 1, 4))))").as("fp"))
          .select(col("doc_id"), size(col("fp")).cast("long").as("n_winnow"),
            array_min(col("fp")).as("min_fp"), array_max(col("fp")).as("max_fp"))
          .orderBy("doc_id")),

    // Whole-doc xxhash64 + winnowing fingerprint-set size (Schleimer et
    // al., SIGMOD'03). Rows-only (terminal set: SURVEY.md §2.3.1):
    // the production fingerprint64/winnow
    // path hashes byte-level grams with xxhash64+splitmix, which DuckDB
    // cannot re-derive; the selection ALGORITHM is oracled cross-engine
    // by q_winnow_md5 above, and xxhash determinism / selection
    // properties are spec-pinned.
    Q("q_winnow", None,
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.fingerprint64(col("text")).as("fp"),
            size(graft.functions.winnow_fingerprints(col("text"), 5, 4)).cast("long").as("n_winnow"))
          .orderBy("doc_id")),

    // ---- sessionization / time -----------------------------------------

    Q("q_events_session",
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  min(ts) AS session_start, max(ts) AS session_end
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin),
      (s, d) =>
        Sessionize.aggByGap(t(s, d, "events"), "user_id", "ts", "event_id", 1800)
          .orderBy("user_id", "session_id")),

    // Spark's native session_window (batch form) against first-principles
    // gap-merge SQL; window end = last event + gap.
    Q("q_session_window",
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |                      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g)
             |SELECT user_id, min(ts) AS w_start,
             |  max(ts) + INTERVAL 30 MINUTE AS w_end,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, w_start""".stripMargin),
      (s, d) =>
        Sessionize.bySessionWindow(t(s, d, "events"), "user_id", "ts", "30 minutes")
          .orderBy("user_id", "w_start")),

    // As-of join: latest error at-or-before each event, per user — vs
    // DuckDB's native ASOF JOIN.
    Q("q_asof_join",
      Some("""SELECT e.event_id, err.event_id AS last_error_id
             |FROM (SELECT * FROM events WHERE user_id < 20) e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) err
             |  ON e.user_id = err.user_id AND e.ts >= err.ts
             |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 20)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("last_error_id"))
        AsOfJoin.backward(ev, errs, "user_id", "ts", "ts", Seq("last_error_id"))
          .select("event_id", "last_error_id")
          .orderBy("event_id")
      }),

    // Forward as-of: earliest error at-or-after each event.
    Q("q_asof_forward",
      Some("""SELECT e.event_id, err.event_id AS next_error_id
             |FROM (SELECT * FROM events WHERE user_id < 20) e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) err
             |  ON e.user_id = err.user_id AND e.ts <= err.ts
             |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 20)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("next_error_id"))
        AsOfJoin.forward(ev, errs, "user_id", "ts", "ts", Seq("next_error_id"))
          .select("event_id", "next_error_id")
          .orderBy("event_id")
      }),

    // Nearest as-of: whichever error is closer in absolute time, before
    // or after; ties fixed to backward. The missing third direction of
    // merge_asof — two window passes sharing one key shuffle.
    Q("q_asof_nearest",
      Some("""SELECT e.event_id,
             |  CASE WHEN f.ts IS NULL THEN b.event_id
             |       WHEN b.ts IS NULL THEN f.event_id
             |       WHEN e.ts - b.ts <= f.ts - e.ts THEN b.event_id
             |       ELSE f.event_id END AS near_error_id
             |FROM (SELECT * FROM events WHERE user_id < 20) e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) b
             |  ON e.user_id = b.user_id AND e.ts >= b.ts
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) f
             |  ON e.user_id = f.user_id AND e.ts <= f.ts
             |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 20)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("near_error_id"))
        AsOfJoin.nearest(ev, errs, "user_id", "ts", "ts", Seq("near_error_id"))
          .select("event_id", "near_error_id")
          .orderBy("event_id")
      }),

    // Backward as-of with staleness bound: matches older than 1 h are null.
    Q("q_asof_tolerance",
      Some("""SELECT e.event_id,
             |  CASE WHEN err.ts >= e.ts - INTERVAL 1 HOUR THEN err.event_id END AS recent_error_id
             |FROM (SELECT * FROM events WHERE user_id < 20) e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) err
             |  ON e.user_id = err.user_id AND e.ts >= err.ts
             |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 20)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("recent_error_id"))
        AsOfJoin.backwardTolerance(ev, errs, "user_id", "ts", "ts",
            Seq("recent_error_id"), toleranceSec = 3600)
          .select("event_id", "recent_error_id")
          .orderBy("event_id")
      }),

    // Same as-of semantics through the custom Catalyst operator path
    // (AsOfJoinNode -> AsOfJoinStrategy -> AsOfJoinExec merge): one oracle,
    // two independent implementations.
    Q("q_asof_native",
      Some("""SELECT e.event_id, err.event_id AS last_error_id
             |FROM (SELECT * FROM events WHERE user_id < 20) e
             |ASOF LEFT JOIN (SELECT * FROM events
             |                WHERE event_type = 'error' AND user_id < 20) err
             |  ON e.user_id = err.user_id AND e.ts >= err.ts
             |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 20)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("last_error_id"))
        AsOfJoin.native(ev, errs, "user_id", "ts", "err_ts", Seq("last_error_id"))
          .select("event_id", "last_error_id")
          .orderBy("event_id")
      }),

    // ---- multimodal plumbing (stubbed decode) ---------------------------

    // ORACLED (r9): the stub decode is deterministic byte arithmetic, so
    // DuckDB re-derives every feature from the hex-encoded UTF-8 payload —
    // FNV-1a-64 as a list_reduce over the byte list in HUGEINT with a
    // mod-2^64 wrap per step (the wrap Scala's Long multiply applies
    // implicitly), sign-adjusted at the end; mean_byte as the same
    // sum/len double division; n_segments as 1 + count of 0x20 bytes.
    // The Spark-side plumbing (binary column, metadata struct,
    // partition-batched mapPartitions decode) is unchanged — only the
    // contract got stronger.
    Q("q_multimodal",
      Some("""WITH b AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    list_transform(generate_series(1, octet_length(encode(text))),
             |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INT)) AS bytes
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, n, bytes,
             |    list_reduce(
             |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
             |        list_transform(bytes, x -> CAST(x AS HUGEINT))),
             |      (acc, x) -> (xor(acc, x) * 1099511628211)
             |        % CAST(18446744073709551616 AS HUGEINT)) AS h
             |  FROM b)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
             |  CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
             |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS checksum,
             |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_sum(bytes) AS DOUBLE) / n END AS mean_byte,
             |  CAST(1 + len(list_filter(bytes, x -> x = 32)) AS INT) AS n_segments
             |FROM r ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Multimodal.decodeFeatures(
            Multimodal.packBinary(t(s, d, "documents"), "doc_id", "text"))
          .toDF()
          .orderBy("doc_id")),

    // The RESIZE stage of the multimodal pipeline (resizeStub: every
    // 4th payload byte — the deterministic stand-in for an image-resize/
    // audio-resample kernel), composed with the stub decode so the whole
    // pack → resize → decode chain is oracled: DuckDB masks the byte
    // list to positions ≡ 1 (mod 4) and re-derives FNV-1a-64 / mean /
    // segments over the RESIZED bytes. Partition-preserving map both
    // stages — a 100 TB media table never shuffles through this chain.
    Q("q_resize",
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, octet_length(encode(text))),
             |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INT)) AS all_bytes
             |  FROM documents),
             |z AS (
             |  SELECT doc_id,
             |    list_where(all_bytes,
             |      list_transform(generate_series(1, len(all_bytes)),
             |        i -> (i - 1) % 4 = 0)) AS bytes
             |  FROM b),
             |r AS (
             |  SELECT doc_id, len(bytes) AS n, bytes,
             |    list_reduce(
             |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
             |        list_transform(bytes, x -> CAST(x AS HUGEINT))),
             |      (acc, x) -> (xor(acc, x) * 1099511628211)
             |        % CAST(18446744073709551616 AS HUGEINT)) AS h
             |  FROM z)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
             |  CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
             |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS checksum,
             |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_sum(bytes) AS DOUBLE) / n END AS mean_byte,
             |  CAST(1 + len(list_filter(bytes, x -> x = 32)) AS INT) AS n_segments
             |FROM r ORDER BY doc_id""".stripMargin),
      (s, d) =>
        Multimodal.decodeFeatures(
            Multimodal.resizeStub(
              Multimodal.packBinary(t(s, d, "documents"), "doc_id", "text"),
              factor = 4))
          .toDF()
          .orderBy("doc_id")),

    // Perceptual-hash near-dup over the multimodal payloads: aHash64
    // (64-block mean-threshold fingerprint, exact integer cross-multiply)
    // + 16x4-bit banded Hamming join — pigeonhole-EXACT recall at
    // threshold <= 15, so the oracle is the all-pairs definition with no
    // approximation gap. Image near-dedup's production shape: swap the
    // byte plane for a decoded luma plane and nothing else changes.
    Q("q_phash_neardup",
      Some("""WITH b AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    list_transform(generate_series(1, octet_length(encode(text))),
             |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INT)) AS bytes
             |  FROM documents),
             |h0 AS (
             |  SELECT doc_id, list_sum(list_transform(range(64), j ->
             |      CASE WHEN COALESCE(list_sum(list_slice(bytes, (j*n)//64 + 1, ((j+1)*n)//64)), 0) * n
             |              > list_sum(bytes) * (((j+1)*n)//64 - (j*n)//64)
             |           THEN CAST(1 AS HUGEINT) << (63-j) ELSE CAST(0 AS HUGEINT) END)) AS hh
             |  FROM b),
             |h AS (
             |  SELECT doc_id, CAST(CASE WHEN hh >= CAST(9223372036854775808 AS HUGEINT)
             |      THEN hh - CAST(18446744073709551616 AS HUGEINT) ELSE hh END AS BIGINT) AS phash
             |  FROM h0)
             |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
             |  CAST(bit_count(xor(a.phash, b2.phash)) AS BIGINT) AS hamming
             |FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
             |WHERE bit_count(xor(a.phash, b2.phash)) <= 13
             |ORDER BY id_a, id_b""".stripMargin),
      (s, d) =>
        Multimodal.phashNearDup(
            Multimodal.aHash64(
              Multimodal.packBinary(t(s, d, "documents"), "doc_id", "text"))
              .toDF(),
            "doc_id", "phash", maxHamming = 13)
          .orderBy("id_a", "id_b")),

    // Deterministic stratified sampling (Mixture.sampleByHash): keep a
    // row iff md5-bucket(id) < the stratum's basis-point rate — the
    // reproducible production form of sampleBy (same rows on re-run, at
    // any partitioning, in any engine). ORACLED on per-stratum counts
    // AND an id-sum membership digest; the id is a composite of the four
    // lineitem keys, so duplicates sample identically by construction.
    Q("q_sample_stratified_hash",
      Some("""WITH s AS (SELECT l_returnflag, l_orderkey,
             |    CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' || l_suppkey), 1, 8) AS BIGINT) % 10000 AS b
             |  FROM lineitem)
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_sampled,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
             |FROM s WHERE b < CASE l_returnflag WHEN 'A' THEN 1000
             |  WHEN 'N' THEN 500 WHEN 'R' THEN 1000 ELSE 0 END
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) =>
        Mixture.sampleByHash(
            t(s, d, "lineitem").withColumn("__sid", concat_ws("|",
              col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))),
            "l_returnflag", "__sid",
            Map("A" -> 1000, "N" -> 500, "R" -> 1000))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_sampled"), sum("l_orderkey").as("sum_ok"))
          .orderBy("l_returnflag")),

    // Stratified sampling by class via Spark's native sampleBy — kept
    // alongside the hash form to pin the engine API. Rows-only
    // (terminal set: SURVEY.md §2.3.1): seeded
    // sampleBy draws from Spark's per-partition XORShift RNG, an
    // engine-internal stream no other engine can re-derive; the
    // deterministic twin q_sample_stratified_hash above IS oracled.
    Q("q_sample_stratified", None,
      (s, d) =>
        t(s, d, "lineitem")
          .stat.sampleBy("l_returnflag",
            Map("A" -> 0.10, "N" -> 0.05, "R" -> 0.10), 42L)
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_sampled"))
          .orderBy("l_returnflag")),

    // Priority sampling (Duffield-Lund-Thorup '07): weighted k-sample
    // without replacement + the built-in unbiased subset-sum estimator
    // max(w, tau) — the calibrated downsampler (doc weight = length).
    // Derandomized to integer-exact priorities floor(w*2^32 / md5-u), so
    // selection, tau and the estimator re-derive bit-for-bit in DuckDB.
    Q("q_sample_priority",
      Some("""WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1 AS u
             |  FROM documents),
             |p AS (SELECT doc_id, w, (w * 4294967296) // u AS priority FROM w
             |  WHERE w >= 1 AND w <= 2147483647),
             |topk1 AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 33),
             |tau AS (SELECT CASE WHEN count(*) = 33 THEN min(priority)
             |    ELSE CAST(0 AS BIGINT) END AS tau FROM topk1),
             |sel AS (SELECT * FROM topk1 ORDER BY priority DESC, doc_id LIMIT 32)
             |SELECT doc_id, w, priority,
             |  greatest(w * 4294967296, tau) AS est_w_scaled
             |FROM sel CROSS JOIN tau ORDER BY priority DESC, doc_id""".stripMargin),
      (s, d) =>
        Mixture.samplePriority(t(s, d, "documents"), "doc_id",
            length(col("text")), k = 32)
          .orderBy(col("priority").desc, col("doc_id"))),

    // Per-stratum priority sampling: k weighted picks PER SOURCE with a
    // per-group tau estimator — the mixture-preserving form (a global
    // draw lets one heavy domain crowd out the rest). One partitioned
    // window + a group-keyed tau join; same integer-exact arithmetic,
    // re-derived bit-for-bit in DuckDB.
    Q("q_sample_priority_grouped",
      Some("""WITH w AS (SELECT source, doc_id, CAST(length(text) AS BIGINT) AS w,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1 AS u
             |  FROM documents),
             |p AS (SELECT source, doc_id, w, (w * 4294967296) // u AS priority FROM w
             |  WHERE w >= 1 AND w <= 2147483647),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source
             |    ORDER BY priority DESC, doc_id) AS rk FROM p),
             |b AS (SELECT * FROM r WHERE rk <= 9),
             |tau AS (SELECT source, coalesce(min(CASE WHEN rk = 9 THEN priority END),
             |    CAST(0 AS BIGINT)) AS tau FROM b GROUP BY source)
             |SELECT b.source, b.doc_id, b.w, b.priority,
             |  greatest(b.w * 4294967296, tau.tau) AS est_w_scaled
             |FROM b JOIN tau USING (source) WHERE rk <= 8
             |ORDER BY source, priority DESC, doc_id""".stripMargin),
      (s, d) =>
        Mixture.samplePriorityByGroup(t(s, d, "documents"), "source", "doc_id",
            length(col("text")), k = 8)
          .orderBy(col("source"), col("priority").desc, col("doc_id"))),

    // Rendezvous (highest-random-weight) hashing (Thaler-Ravishankar
    // '98): route each doc to argmax_s md5(id|s) — the minimal-
    // disruption shard router (resizing the fleet moves only the
    // affected shard's keys, vs mod-m moving nearly all). Pure per-row
    // expression, |shards| hashes + in-expression argmax; membership
    // pinned per shard by count + id-sum digest, re-derived in DuckDB.
    Q("q_rendezvous",
      Some("""WITH sh AS (SELECT unnest(['s0','s1','s2','s3','s4','s5','s6','s7']) AS shard),
             |sc AS (SELECT doc_id, sh.shard,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || sh.shard), 1, 8) AS BIGINT) AS score
             |  FROM documents CROSS JOIN sh),
             |w AS (SELECT doc_id, shard,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, shard DESC) AS rk
             |  FROM sc)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM w WHERE rk = 1 GROUP BY shard ORDER BY shard""".stripMargin),
      (s, d) =>
        Rendezvous.assign(t(s, d, "documents"), "doc_id",
            (0 until 8).map(i => s"s$i"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .orderBy("shard")),

    // Mergeable CMS — the sketch-TABLE lifecycle at 100 TB: one tiny
    // sketch per source stored pre-aggregated, merged by cellwise sum
    // without rescanning any corpus. CMS linearity makes the merged
    // table EQUAL the whole-corpus sketch bit-for-bit, so the oracle is
    // the direct whole-corpus derivation — the oracled counterpart of
    // the rows-only q_hll_merge.
    Q("q_cms_merge",
      Some("""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |rows_ AS (SELECT unnest(range(4)) AS j),
             |cells AS (SELECT j,
             |    CAST('0x' || substr(md5(j || '|' || token), 1, 8) AS BIGINT) % 256 AS b,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM toks CROSS JOIN rows_ GROUP BY j, b)
             |SELECT CAST(j AS INT) AS cms_row, b AS cms_bucket, cnt
             |FROM cells ORDER BY cms_row, cms_bucket""".stripMargin),
      (s, d) =>
        CountMin.merge(
            CountMin.sketchBy(
              t(s, d, "documents").select(col("source"),
                explode(split(lower(col("text")), " ")).as("token")),
              "source", "token", depth = 4, width = 256))
          .orderBy("cms_row", "cms_bucket")),

    // Content-hash train/valid/test split — assignment is a pure function
    // of doc_id (md5 bucket mod 1000), so it is stable across engines,
    // runs and partitionings: the split a production corpus needs to
    // avoid leakage on re-processing. ORACLED on counts AND membership
    // (sum of ids per split).
    Q("q_hash_split",
      Some("""WITH s AS (SELECT doc_id,
             |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 AS b
             |FROM documents)
             |SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'valid'
             |            ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM s GROUP BY 1 ORDER BY split""".stripMargin),
      (s, d) =>
        Mixture.hashSplit(t(s, d, "documents"), "doc_id",
            Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
          .orderBy("split")),

    // Seeded deterministic corpus shuffle + exact-size shard cut
    // (Mixture.shuffleShard): pos = global rank under md5(seed:id) via
    // the two-phase GlobalRank (no single-task window), shard = exact
    // NTILE — reproducible on any engine, so the oracle checks the FULL
    // permutation, not just shard sizes.
    Q("q_shuffle_shard",
      Some("""SELECT doc_id,
             |  CAST(ntile(16) OVER w AS BIGINT) AS shard,
             |  CAST(row_number() OVER w AS BIGINT) AS pos
             |FROM documents
             |WINDOW w AS (ORDER BY
             |  CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
             |  doc_id)
             |ORDER BY pos""".stripMargin),
      (s, d) =>
        Mixture.shuffleShard(t(s, d, "documents").select("doc_id"),
            "doc_id", seed = 42L, shards = 16, chunks = 32)
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy("pos")),

    // Deterministic k-fold assignment (Mixture.kfold): fold = md5-bucket
    // mod k — hashSplit's cross-validation counterpart, reproducible in
    // any engine so no example migrates between train and held-out
    // across runs. Oracled on per-fold counts AND an id-digest checksum
    // (membership, not just sizes).
    Q("q_kfold",
      Some("""SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS BIGINT) AS fold,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14) AS BIGINT))
             |    % 4611686018427387904 AS BIGINT) AS member_ck
             |FROM documents GROUP BY fold ORDER BY fold""".stripMargin),
      (s, d) =>
        Mixture.kfold(t(s, d, "documents"), "doc_id", 5)
          .groupBy("fold")
          .agg(count(lit(1)).as("n"),
            (sum(Checksum.rowDigest(col("doc_id").cast("string")))
              % lit(Checksum.Modulus)).cast("long").as("member_ck"))
          .orderBy("fold")),

    // Deterministic per-group k-sample: "5 pseudo-random example docs per
    // source", stable across engines/runs/partitionings — rank by the
    // md5-hash of the id (the q_hash_split trick) inside each group, keep
    // the top 5 via the merge-able TopKPairs sketch (bounded buffers, no
    // per-group window sort). Fully ORACLED against the window-rank
    // formulation over the same hash.
    Q("q_sample_group",
      Some("""WITH h AS (SELECT source, doc_id,
             |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
             |FROM documents)
             |SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |                       ORDER BY hv DESC, doc_id) AS rn
             |  FROM h) WHERE rn <= 5
             |ORDER BY source, doc_id""".stripMargin),
      (s, d) => {
        val topk = udaf(new graft.functions.Aggregators.TopKPairs(5))
        val hv = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long")
        t(s, d, "documents")
          .groupBy("source")
          .agg(topk(hv, col("doc_id").cast("long")).as("tk"))
          .select(col("source"), explode(col("tk")).as("p"))
          .select(col("source"), col("p._2").as("doc_id"))
          .orderBy("source", "doc_id")
      }),

    // Deterministic size-proportional (PPS) systematic sampling: 10 stride
    // boundaries over the cumulative n_chars axis (doc_id order); a doc is
    // selected iff a boundary lands in its weight interval, multiplicity
    // n_strides when a heavy doc absorbs several. All-integer div on exact
    // cumulative sums — no RNG, no floats — so the sample is bit-identical
    // across engines and fully ORACLED (DuckDB // mirrors Spark div; the
    // Spark running sum is the two-phase GlobalRank shape, the oracle's is
    // a plain window).
    Q("q_sample_pps",
      Some("""WITH c AS (
             |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             |    sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) AS tot
             |  FROM documents)
             |SELECT doc_id, w,
             |  CAST(cum * 10 // tot - (cum - w) * 10 // tot AS BIGINT) AS n_strides
             |FROM c WHERE cum * 10 // tot > (cum - w) * 10 // tot
             |ORDER BY doc_id, w, n_strides""".stripMargin),
      (s, d) =>
        Mixture.ppsSample(
            t(s, d, "documents").select(col("doc_id"), col("n_chars")),
            "doc_id", "n_chars", k = 10)
          .select(col("doc_id"), col("n_chars").cast("long").as("w"),
            col("n_strides"))
          .orderBy("doc_id", "w", "n_strides")),

    // Seeded train/validation/test split — per-split counts. Rows-only
    // (terminal set: SURVEY.md §2.3.1):
    // Spark's randomSplit draws from its per-partition XORShift RNG, an
    // engine-internal stream no other engine can re-derive; the
    // deterministic hash-threshold split IS oracled (q_hash_split).
    Q("q_train_test_split", None,
      (s, d) => {
        val splits = t(s, d, "documents")
          .randomSplit(Array(0.8, 0.1, 0.1), seed = 42L)
        val tagged = splits.zip(Seq("train", "valid", "test")).map {
          case (df, name) => df.select(lit(name).as("split"), col("doc_id"))
        }.reduce(_ union _)
        tagged.groupBy("split").agg(count(lit(1)).as("n"))
          .orderBy("split")
      }),

    // Frame sampling over binary payloads (every 2nd 64-byte frame).
    // ORACLED including the FNV-1a-64 frame checksum: DuckDB re-derives it
    // with a recursive CTE over the hex-encoded payload — per-byte
    // xor-then-multiply in HUGEINT, folded mod 2^64 (the wrap Scala's Long
    // multiply applies implicitly), sign-adjusted at the end. Recursion
    // depth = frame size (64), width = kept frames, so the oracle is
    // O(total kept bytes).
    Q("q_frames",
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, hex(encode(text)) AS hx,
             |         octet_length(encode(text)) AS n
             |  FROM documents),
             |f0 AS (
             |  SELECT doc_id, hx, n,
             |         unnest(generate_series(0,
             |           CAST(GREATEST(CEIL(n / 64.0), 1) AS INT) - 1, 2)) AS g
             |  FROM d),
             |f AS (
             |  SELECT doc_id, CAST(g AS INT) AS frame_idx, hx,
             |         CAST(g AS INT) * 64 AS start,
             |         LEAST(CAST(g AS INT) * 64 + 64, n) AS stop
             |  FROM f0),
             |h(doc_id, frame_idx, hx, stop, pos, acc) AS (
             |  SELECT doc_id, frame_idx, hx, stop, start,
             |         CAST(1469598103934665603 AS HUGEINT)
             |  FROM f
             |  UNION ALL
             |  SELECT doc_id, frame_idx, hx, stop, pos + 1,
             |         ((acc - (acc % 256)
             |           + CAST(xor(CAST(acc % 256 AS BIGINT),
             |                      CAST('0x' || substr(hx, 2 * pos + 1, 2) AS BIGINT)) AS HUGEINT))
             |          * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
             |  FROM h WHERE pos < stop)
             |SELECT doc_id, frame_idx,
             |  CAST(stop - frame_idx * 64 AS BIGINT) AS frame_bytes,
             |  CAST(CASE WHEN acc >= CAST('9223372036854775808' AS HUGEINT)
             |            THEN acc - CAST('18446744073709551616' AS HUGEINT)
             |            ELSE acc END AS BIGINT) AS checksum
             |FROM h WHERE pos = stop
             |ORDER BY doc_id, frame_idx""".stripMargin),
      (s, d) =>
        Multimodal.sampleFrames(
            Multimodal.packBinary(t(s, d, "documents"), "doc_id", "text"),
            frameSize = 64, stride = 2)
          .toDF()
          .orderBy("doc_id", "frame_idx")),

    // DSIR importance weights (Xie et al. NeurIPS '23): every doc scored
    // by log p_target − log p_raw over hashed unigram+bigram bags, the
    // cheap learned-classifier alternative for data selection. Target =
    // the English slice, raw = the whole corpus. Two 256-bucket
    // histograms + one broadcast log-ratio map + a per-row fold; scores
    // are exact longs (per-bucket micros rounded BEFORE the doc sum), so
    // the query oracles bit-for-bit — DuckDB re-derives both smoothed
    // histograms and the fold from the same md5 buckets.
    Q("q_dsir",
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
             |  FROM documents),
             |hs AS (SELECT doc_id, lang,
             |    list_transform(t, x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS h
             |  FROM toks),
             |hb AS (SELECT doc_id, lang, unnest(
             |    list_transform(h, x -> x % 256) ||
             |    [(h[i] * 1000003 + h[i+1]) % 256 FOR i IN range(1, len(h))]) AS b
             |  FROM hs),
             |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM hb
             |  WHERE lang = 'en' GROUP BY b),
             |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM hb GROUP BY b),
             |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tc),
             |nr AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS nr FROM rc),
             |llr AS (SELECT r.range AS b,
             |    CAST(round((ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE)
             |                    / CAST(nt.nt + 256 AS DOUBLE))
             |              - ln(CAST(coalesce(rc.cr, 0) + 1 AS DOUBLE)
             |                    / CAST(nr.nr + 256 AS DOUBLE)))
             |               * CAST(1e6 AS DOUBLE), 0) AS BIGINT) AS w
             |  FROM range(256) r
             |  LEFT JOIN tc ON tc.b = r.range
             |  LEFT JOIN rc ON rc.b = r.range
             |  CROSS JOIN nt CROSS JOIN nr),
             |sc AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |    CAST(sum(llr.w) AS BIGINT) AS logw_micro
             |  FROM hb JOIN llr ON hb.b = llr.b GROUP BY hb.doc_id)
             |SELECT d.doc_id, coalesce(sc.n_grams, 0) AS n_grams,
             |  coalesce(sc.logw_micro, 0) AS logw_micro
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        Dsir.importanceWeights(docs, col("lang") === "en",
            "doc_id", "text", buckets = 256)
          .orderBy("doc_id")
      }),

    // Repeat-factor upsampling (Mixture.repeatFactors + upsampleByFactor):
    // realize a 50/30/20 mixture over three sources at constant corpus
    // size by REPEATING scarce sources ("epochs per domain") — the
    // complement of the downsample-only q_mixture. Factors are exact
    // integer micro-units ((t·N) div n_s); which rows carry the
    // fractional extra epoch is md5-of-id deterministic, so membership
    // oracles via per-(doc,copy) digest checksums. The factor table
    // round-trips the driver (sources rows — the documented tiny-table
    // exception).
    Q("q_mix_upsample",
      Some("""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM documents),
             |tgt(source, tm) AS (VALUES ('src0', CAST(500000 AS BIGINT)),
             |                           ('src1', CAST(300000 AS BIGINT)),
             |                           ('src2', CAST(200000 AS BIGINT))),
             |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY source),
             |f AS (SELECT c.source, CAST((tgt.tm * tot.nt) // c.n AS BIGINT) AS fm
             |  FROM c JOIN tgt USING (source) CROSS JOIN tot),
             |r AS (SELECT d.doc_id, d.source,
             |    fm // 1000000 +
             |    CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |              % 1000000 < fm % 1000000
             |         THEN 1 ELSE 0 END AS k
             |  FROM documents d JOIN f ON d.source = f.source),
             |e AS (SELECT doc_id, source,
             |    unnest(generate_series(1, CAST(k AS BIGINT))) AS copy
             |  FROM r WHERE k >= 1)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_out,
             |  CAST(sum(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
             |        || CAST(copy AS VARCHAR)), 1, 14) AS BIGINT))
             |    % 4611686018427387904 AS BIGINT) AS member_ck
             |FROM e GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val factors = Mixture.repeatFactors(docs, "source",
            Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L))
          .select(col("source"), col("factor_micro"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Mixture.upsampleByFactor(docs, "source", "doc_id", factors)
          .groupBy("source")
          .agg(count(lit(1)).as("n_out"),
            (sum(Checksum.rowDigest(concat(col("doc_id").cast("string"),
              lit("#"), col("copy").cast("string"))))
              % lit(Checksum.Modulus)).cast("long").as("member_ck"))
          .orderBy("source")
      }),

    // Checksum-validated PII: candidate card numbers (13-19 digit runs,
    // synthesized per doc_id — the q_redact pattern) each carrying its
    // Luhn mod-10 verdict, the precision layer a bare regex scrub lacks.
    // Detection (regexp_extract_all) and validation (HOF fold over digit
    // positions) are per-row expression chains, and DuckDB re-derives
    // both exactly.
    Q("q_pii_luhn",
      Some("""WITH syn AS (SELECT doc_id,
             |    'card ' || substr(
             |      lpad(CAST((doc_id % 1000000) * 2654435761 % 10000000000 AS VARCHAR), 10, '0') ||
             |      lpad(CAST((doc_id % 1000000) * 1099511628211 % 10000000000 AS VARCHAR), 10, '0'),
             |      1, CAST(13 + doc_id % 7 AS INT)) || ' ' || text AS text2
             |  FROM documents),
             |lc AS (SELECT doc_id,
             |    regexp_extract_all(text2, '[0-9]{13,19}') AS l FROM syn),
             |ex AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM lc),
             |cand AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS cand_idx,
             |    l[CAST(i AS INT)] AS cand FROM ex)
             |SELECT doc_id, cand_idx, cand,
             |  (list_sum(list_transform(range(1, len(cand) + 1), i ->
             |     CASE WHEN (len(cand) - i) % 2 = 1
             |          THEN CASE WHEN 2 * (ascii(substr(cand, CAST(i AS INT), 1)) - 48) > 9
             |                    THEN 2 * (ascii(substr(cand, CAST(i AS INT), 1)) - 48) - 9
             |                    ELSE 2 * (ascii(substr(cand, CAST(i AS INT), 1)) - 48) END
             |          ELSE ascii(substr(cand, CAST(i AS INT), 1)) - 48 END))
             |   % 10 = 0) AS luhn_valid
             |FROM cand ORDER BY doc_id, cand_idx""".stripMargin),
      (s, d) => {
        val base = col("doc_id") % lit(1000000L)
        val digits = concat(
          lpad(((base * lit(2654435761L)) % lit(10000000000L)).cast("string"), 10, "0"),
          lpad(((base * lit(1099511628211L)) % lit(10000000000L)).cast("string"), 10, "0"))
        val text2 = concat(lit("card "),
          digits.substr(lit(1), (lit(13) + col("doc_id") % lit(7)).cast("int")),
          lit(" "), col("text"))
        Pii.cardCandidates(
            t(s, d, "documents").select(col("doc_id"), text2.as("text2")),
            "doc_id", "text2")
          .orderBy("doc_id", "cand_idx")
      }),

    // k-center greedy coreset (Sener & Savarese '18): 8 maximally-spread
    // embeddings — the diversity-first sampler (SemDeDup removes
    // redundancy; this SELECTS coverage). Exact integer micro distances
    // make the greedy trajectory a pure function of the data, so the
    // DuckDB oracle re-derives all 8 picks with an unrolled
    // argmax-of-min-distance CTE chain, bit-for-bit — including the
    // shrinking coverage radius.
    Q("q_coreset",
      Some(coresetSql(8)),
      (s, d) =>
        Coreset.kCenterGreedy(t(s, d, "embeddings"), "vec_id", "embedding", k = 8)
          .orderBy("pick_order")),

    // Maximal Marginal Relevance (Carbonell-Goldstein '98) at λ=1/2:
    // diversity-aware top-k AGAINST A QUERY (min-id vector) — greedy
    // argmax of rel − max-sim in exact integer micro² dot products, the
    // retrieval complement of q_coreset's query-free spread. Same
    // derandomization ⇒ the DuckDB oracle unrolls the full 8-pick
    // trajectory and matches bit-for-bit.
    Q("q_mmr_select",
      Some(mmrSql(8)),
      (s, d) =>
        Mmr.select(t(s, d, "embeddings"), "vec_id", "embedding", k = 8)
          .orderBy("pick_order")),

    // Count-min sketch (Cormode-Muthukrishnan '05): the fixed-size point-
    // query counter for unbounded key domains — complements Misra-Gries
    // (q_heavy_hitters keeps the heavy KEYS; CMS answers counts for ANY
    // key after the fact). The 4x256 table and every estimate are exact
    // integer functions of md5 buckets, so DuckDB re-derives the WHOLE
    // sketch bit-for-bit; the overestimate gap vs exact counts is
    // visible in-row (cms_est >= exact_cnt always, by construction).
    Q("q_cms_topk",
      Some("""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY token),
             |top AS (SELECT token, exact_cnt FROM ex ORDER BY exact_cnt DESC, token LIMIT 20),
             |rows_ AS (SELECT unnest(range(4)) AS j),
             |cells AS (SELECT j,
             |    CAST('0x' || substr(md5(j || '|' || token), 1, 8) AS BIGINT) % 256 AS b,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM toks CROSS JOIN rows_ GROUP BY j, b)
             |SELECT t.token, t.exact_cnt, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
             |FROM top t CROSS JOIN rows_ r
             |LEFT JOIN cells c ON c.j = r.j
             |  AND c.b = CAST('0x' || substr(md5(r.j || '|' || t.token), 1, 8) AS BIGINT) % 256
             |GROUP BY t.token, t.exact_cnt
             |ORDER BY exact_cnt DESC, token""".stripMargin),
      (s, d) => {
        // The token-count subtree feeds both the exact top-20 and the
        // sketch (sketchFromCounts hashes per distinct token, not per
        // occurrence) — Spark's exchange reuse shares the physical pass;
        // a measured persist variant was slower (r20 calibrated A/B).
        val tokCounts = t(s, d, "documents")
          .select(explode(split(lower(col("text")), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        val top = tokCounts
          .orderBy(col("exact_cnt").desc, col("token")).limit(20)
        CountMin.estimate(top, "token",
            CountMin.sketchFromCounts(tokCounts, "token", "exact_cnt",
              depth = 4, width = 256),
            depth = 4, width = 256)
          .orderBy(col("exact_cnt").desc, col("token"))
      })
  )

  /** Unrolled k-center-greedy oracle: sel0 = min-id seed; stage i scans
    * all vectors for min-distance-to-selected (exact integer micro² via
    * [[OracleVec.sqDiffSql]]'s fold) and appends the (dist DESC, id ASC)
    * argmax. Unrolled because SQL recursion cannot aggregate over the
    * recursive reference — the [[q_embed_knn_ivfpq]] Lloyd-unroll trick.
    */
  private def coresetSql(k: Int): String = {
    val sq = OracleVec.sqDiffSql("e.v", "s.v")
    val head =
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
        |  FROM embeddings),
        |sel0 AS (SELECT CAST(0 AS BIGINT) AS pick_order, vec_id, v,
        |    CAST(0 AS BIGINT) AS far_dist
        |  FROM e ORDER BY vec_id LIMIT 1)""".stripMargin
    val stages = (1 until k).map { i =>
      s""",
         |m$i AS (SELECT e.vec_id, min($sq) AS md
         |  FROM e CROSS JOIN sel${i - 1} s GROUP BY e.vec_id),
         |p$i AS (SELECT m.vec_id, e.v, m.md FROM m$i m JOIN e ON e.vec_id = m.vec_id
         |  ORDER BY m.md DESC, m.vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
         |  SELECT CAST($i AS BIGINT), vec_id, v, CAST(md AS BIGINT) FROM p$i)""".stripMargin
    }.mkString
    head + stages +
      s"\nSELECT pick_order, vec_id, far_dist FROM sel${k - 1} ORDER BY pick_order"
  }

  /** Unrolled MMR oracle (same trick as [[coresetSql]]): candidate pool =
    * all vectors except the min-id query, rel precomputed once; stage i
    * takes argmax of rel − max-selected-similarity (exact integer micro²
    * dots via [[OracleVec.dotSql]]'s fold) with (score DESC, id ASC)
    * ties, explicitly excluding already-selected ids (unlike k-center,
    * a selected row's marginal score can stay competitive).
    */
  private def mmrSql(k: Int): String = {
    val relDot = OracleVec.dotSql("e.v", "q.v")
    val simDot = OracleVec.dotSql("c2.v", "s.v")
    val head =
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id, v FROM e0 ORDER BY vec_id LIMIT 1),
         |c AS (SELECT e.vec_id, e.v, $relDot AS rel
         |  FROM e0 e CROSS JOIN q WHERE e.vec_id <> q.vec_id),
         |sel0 AS (SELECT CAST(0 AS BIGINT) AS pick_order, vec_id, v, rel AS score
         |  FROM c ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    val stages = (1 until k).map { i =>
      // the is_sel flag rides the SAME aggregate as max-sim, so each stage
      // references sel twice (like coresetSql) — a third reference via
      // NOT IN makes CTE inlining blow up exponentially
      s""",
         |m$i AS (SELECT c2.vec_id, max($simDot) AS ms,
         |    max(CASE WHEN c2.vec_id = s.vec_id THEN 1 ELSE 0 END) AS is_sel
         |  FROM c c2 CROSS JOIN sel${i - 1} s GROUP BY c2.vec_id),
         |p$i AS (SELECT c.vec_id, c.v, c.rel - m.ms AS score
         |  FROM m$i m JOIN c ON c.vec_id = m.vec_id
         |  WHERE m.is_sel = 0
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
         |  SELECT CAST($i AS BIGINT), vec_id, v, score FROM p$i)""".stripMargin
    }.mkString
    head + stages +
      s"\nSELECT pick_order, vec_id, score FROM sel${k - 1} ORDER BY pick_order"
  }
}
