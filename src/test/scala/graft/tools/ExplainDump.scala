package graft

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` for the headline queries into
  * EXPLAINS.md so plan shape (pushdown, broadcast, partial agg, codegen
  * spans) is reviewable without running Spark.
  * Usage: `sbt "Test/runMain graft.ExplainDump [sfDir]"`.
  */
object ExplainDump {
  val headline: Seq[String] = Seq(
    "q_compiler_pipeline", "q_dsv2_scan",
    "q_tpch_q1", "q_tpch_q2", "q_tpch_q3", "q_tpch_q4", "q_tpch_q5",
    "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q10",
    "q_tpch_q11", "q_tpch_q12", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
    "q_tpch_q16", "q_tpch_q17", "q_tpch_q19", "q_tpch_q20", "q_tpch_q21",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_incr", "q_dedup_jaccard",
    "q_embed_knn", "q_embed_centroids", "q_quality_filter",
    "q_decontaminate", "q_decontaminate_semantic",
    "q_bm25", "q_bm25_topk", "q_pack", "q_pack_global",
    "q_repetition", "q_lm_score", "q_mixture", "q_curation_pipeline",
    "q_window_analytics", "q_join_full",
    "q_asof_native", "q_band_join", "q_resample", "q_chunk",
    "q_window_rank", "q_lateral", "q_skew_join", "q_write_partitioned",
    "q_bloom_join", "q_heavy_hitters", "q_tfidf", "q_dedup_semantic",
    "q_zorder", "q_table_checksum", "q_window_tumbling", "q_window_hopping",
    "q_schema_evolution", "q_offset", "q_write_zordered",
    "q_upsert", "q_scd2", "q_fuzzy_names", "q_outliers", "q_histogram",
    "q_compact", "q_dpp", "q_incr_agg", "q_curriculum",
    "q_scd2_lookup", "q_funnel", "q_retention", "q_join_cross",
    "q_dup_spans", "q_cut_dup_spans", "q_dedup_segments",
    "q_inverted_index", "q_url_dedup", "q_linear_score",
    "q_arrow_roundtrip", "q_hash_split", "q_topk_grouped",
    "q_sample_pps", "q_sample_group", "q_skew_profile", "q_skew_summary",
    "q_dedup_canonical", "q_profile", "q_table_diff",
    "q_embed_moments", "q_embed_standardize", "q_ols_trend",
    "q_kfold", "q_events_anomaly", "q_corr_matrix",
    "q_profile_by", "q_lm_score_bigram", "q_zipf", "q_embed_knn_pq",
    "q_freq_items", "q_ivf_assign", "q_multimodal",
    "q_embed_knn_lsh", "q_embed_knn_ivf", "q_embed_pairs_lsh",
    "q_pq_assign", "q_simhash_assign", "q_events_anomaly_chunked",
    "q_winnow_md5", "q_sample_stratified_hash", "q_dedup_incr_near",
    "q_dsir", "q_mix_upsample", "q_pii_luhn", "q_coreset",
    "q_hard_negatives",
    "q_random_projection", "q_pagerank", "q_phash_neardup",
    "q_cms_topk", "q_cms_merge", "q_sample_priority",
    "q_sample_priority_grouped", "q_mmr_select", "q_kneser_ney",
    "q_rendezvous", "q_asof_nearest", "q_pack_bpe", "q_shuffle_shard",
    "q_bpe_train", "q_bpe_train_hist", "q_linear_train_step",
    "q_dedup_apply_from_table", "q_ann_from_index", "q_cluster_balanced",
    "q_psi_drift",
    "q_dedup_clusters_incr", "q_ann_index_incr", "q_ann_from_index_pq",
    "q_linear_train_reg", "q_js_drift", "q_bpe_encode_from_table",
    "q_ann_index_compact", "q_classifier_eval",
    "q_ann_recall", "q_ann_recall_pq", "q_ann_index_incr_pq",
    "q_dedup_clusters_compact", "q_linear_apply_from_model",
    "q_bpe_eval", "q_curation_manifest", "q_curation_manifest_incr",
    "q_ann_index_compact_pq", "q_ann_probe_curve", "q_pack_manifest",
    "q_curation_manifest_delta", "q_psi_drift_from_ref",
    "q_ann_probe_curve_pq",
    "q_ann_index_nights", "q_ann_index_cycle", "q_ann_refresh_trigger",
    "q_ann_refresh", "q_ann_refresh_pq", "q_dedup_clusters_cycle",
    "q_classifier_eval_holdout", "q_classifier_curve", "q_drift_panel",
    "q_curation_manifest_delta2",
    "q_ann_refresh_recall", "q_ann_serve_current", "q_ann_registry_versions",
    "q_bpe_refresh_trigger", "q_bpe_refresh", "q_bpe_refresh_gated",
    "q_classifier_refresh", "q_nightly_roll",
    "q_bpe_serve_current", "q_lr_serve_current", "q_pq_serve_current",
    "q_registry_audit")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.ExplainDump` on `$sfDir` " +
      "(local[4], AQE initial plans). Regenerate after plan-affecting " +
      "changes: `sbt \"Test/runMain graft.ExplainDump\"`.\n")
    val threshold = graft.plans.SmallInput.ThresholdBytes
    val (below, above) = new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .partition(f => org.apache.commons.io.FileUtils.sizeOf(f) < threshold)
    def names(fs: Seq[java.io.File]) = fs.map(_.getName.stripSuffix(".parquet")).mkString(", ")
    sb.append(s"\nThe size rule (`graft.plans.SmallInput`) plans a query over file scans " +
      s"and local relations whose files sum under ${threshold >> 10} KB with no " +
      "`Exchange`: `Coalesce 1` under each aggregate, window and global sort, " +
      "`OnePartition` under each join side, equi-joins as shuffled-hash joins. " +
      s"Tables under it on their own here: ${names(below.toSeq)}; over it: " +
      s"${if (above.isEmpty) "none" else names(above.toSeq)}. A plan over a `Range`, a " +
      "checkpointed or cached frame, or a repartition of its own keeps the distributed shape.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("EXPLAINS.md"), sb.toString)
    println(s"[explain] wrote EXPLAINS.md (${headline.size} plans)")
    spark.stop()
  }
}
