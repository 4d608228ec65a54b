package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe: times the scale-critical pipelines at 1× (sf0.1) and
  * N× ([[ScaleGen]]'s data — keys re-spaced so cardinalities scale
  * too, dims kept 1× — built under target/ when missing). Evidence for
  * the SURVEY §4 claim that the plans scale linearly-ish in data
  * volume (constant shuffle rounds, no quadratic blowups outside the
  * intentionally quadratic pair scans).
  *
  * Usage: runMain graft.ScaleProbe [factor=10] [probe,probe,...]
  * (second arg restricts to the named probes) — writes nothing
  * outside target/.
  */
object ScaleProbe {
  /** Registry-resolved probes: the scale-sensitive queries (pair
    * scans, iterative GD/BFS/LPA, selection-machinery users, two-level
    * ranks — map-only ops like vec_rp_project scale trivially and stay
    * out to keep the probe wall-time bounded). */
  private[graft] val probeNames = Seq(
    "q1_pricing_summary", "q13_percentiles", "q7_window_rank", "q17_sessionize",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_ngram_jaccard",
    "dedup_embed_cosine_lsh", "dedup_clusters", "corpus_pack_shards", "ann_ivf_kmeans",
    "text_quality", "dedup_substring", "text_dup_ngram_fraction", "pipeline_ingest_full",
    "q39_percentiles_scalable", "corpus_decontaminate_bloom", "corpus_decontaminate_fuzzy",
    "text_tfidf_topk", "dedup_incremental", "q40_funnel", "q41_salted_join", "ann_pq",
    "graph_pagerank", "dedup_semantic", "text_rarity_score", "ann_sq8", "graph_triangles",
    "text_diversity", "corpus_pack_sequences", "corpus_budget_select", "vec_covariance",
    "q45_retention", "dedup_keep_best", "ann_mmr", "corpus_split_leakage",
    "corpus_quality_gate", "text_readability", "vec_pca_project", "graph_node_similarity",
    "corpus_bpe_merges", "corpus_epoch_mix", "q46_peak_concurrency", "q47_anomaly_zscore",
    "q48_asof_tolerance", "q49_time_weighted_avg", "dedup_containment",
    "graph_connected_components", "corpus_dsir", "q50_session_overlap", "ann_range_search",
    "q51_streaks", "corpus_bpe_encode", "q52_winsorize", "corpus_ngram_lm",
    "pipeline_perplexity_filter", "corpus_pmi_bigrams", "corpus_sample_weighted",
    "corpus_naive_bayes", "graph_kcore", "q53_ewma", "q54_anomaly_mad", "q55_fuzzy_link",
    "q57_skyline", "ml_linear_probe", "ml_logreg_gd", "ml_kfold_cv", "graph_bfs",
    "graph_label_prop", "ann_knn_graph", "corpus_topic_clusters", "q64_rfm", "q67_gini",
    "text_entropy", "q83_cohort_ltv", "q84_survival_retention", "graph_hits",
    "dedup_threshold_sweep", "q87_seasonal_naive_backtest", "graph_closeness",
    "q88_join_skew_report", "ann_hybrid_rrf", "graph_anf", "approx_tdigest_quantiles",
    "approx_set_overlap", "pipeline_retrieval_eval", "q89_dq_audit", "ml_conformal_interval",
    "q90_markov_stationary", "q91_theil_sen", "pipeline_trend_panel", "ml_feature_importance",
    "text_novelty_curve", "text_boilerplate_fraction", "q92_equidepth_histogram",
    "q93_join_size_estimate", "ml_learning_curve", "dedup_source_stats", "ml_ks_two_sample",
    "corpus_url_dedup", "text_dedup_spans", "dedup_paragraph_minhash",
    "pipeline_crawl_ingest", "corpus_decontaminate_semantic", "text_repetition",
    "corpus_pack_ffd", "text_bm25_topk", "corpus_mixture_sample", "q96_percentile_bands",
    "pipeline_mixture_pack", "ml_average_precision", "ml_brier_decomposition",
    "ml_auc_delong", "corpus_domain_stats", "graph_link_prediction", "ml_shap_linear",
    "q97_active_users", "pipeline_ml_scorecard", "text_collocations", "q98_rolling_robust",
    "ml_mcnemar_test", "ml_cohens_kappa", "ml_hosmer_lemeshow", "q99_mann_kendall",
    "q100_runs_test", "ml_isotonic_calibration", "text_hash_features", "ann_multiprobe_lsh",
    "ml_cochran_q", "ml_spearman_corr", "q101_autocorrelation", "q102_ljung_box",
    "corpus_span_corruption", "graph_clustering_coeff", "corpus_oov_rate", "text_langid_eval",
    "q103_dow_anova", "ml_c2st_drift", "ml_wilcoxon_signed_rank", "ml_threshold_cost_opt",
    "pipeline_model_compare", "vec_matryoshka_eval", "pipeline_train_data_card")

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val spark = Sessions.local(Harness.cores, logLevel = "ERROR")

    val base = "/root/testdata/sf0.1"
    val scaled = ScaleGen.defaultOut(factor)
    if (!new java.io.File(s"$scaled/part.parquet").exists) ScaleGen.build(spark, factor, scaled)

    val qs = SparkEntry.queries
    val missing = probeNames.filterNot(qs.contains)
    require(missing.isEmpty, s"ScaleProbe names unknown queries: ${missing.mkString(",")}")
    val probes: Seq[(String, String => DataFrame)] =
      probeNames.map(n => (n, (d: String) => qs(n)(spark, d))) ++ Seq(
        // SemDeDup's scale knob: k grows with the corpus so cell size
        // stays constant — Σ|cell|² then grows linearly, not
        // quadratically (the fixed-k dedup_semantic probe documents the
        // wrong-configuration cost: 38× at 20×)
        ("dedup_semantic_kscaled", { d =>
          val k = if (d != base) 160 else 8
          dedup.DedupApi.semanticPairs(Tables.embeddings(spark, d), "vec_id", "embedding",
            threshold = 0.4, kCells = k, iters = 2, trainMod = 4)
        }),
        // q42's gated instantiation reads customer (a 1× dim here) — the
        // probe applies the same scd2Apply shape to the N× orders table
        // so the base side actually scales
        ("q42_scd2_merge", { d =>
          val o = Tables.orders(spark, d)
          val accts = o.select(col("o_orderkey"), col("o_totalprice").as("c_acctbal"))
          val changes = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
            .select(col("o_orderkey"), (col("o_totalprice") + lit(100.0)).as("new_bal"))
          operators.Extra.scd2Apply(accts, changes, "o_orderkey", "c_acctbal", "new_bal")
        }))
    def time(tag: String, f: => DataFrame): Double = {
      val s = Harness.runNoop(f)
      Harness.dropAllBlocks(spark) // per-query persists must not skew the next probe
      println(f"$tag: $s%.2f s")
      s
    }
    probes.filter(p => only.forall(_.contains(p._1))).foreach { case (tag, b) =>
      val t1 = time(s"$tag @1x", b(base))
      val tn = time(s"$tag @${factor}x", b(scaled))
      println(f"$tag scaling ratio: ${tn / t1}%.1fx for ${factor}x data")
    }
    spark.stop()
  }
}
