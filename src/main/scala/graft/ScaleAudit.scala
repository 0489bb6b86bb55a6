package graft

/** Cluster-shape audit: run the heaviest gate queries with shuffle
  * parallelism forced to a cluster-like width (default 256 — what a
  * ~1000-core cluster's AQE would coalesce toward at this data size) and
  * record, per query, how wide each stage actually ran. The claim under
  * test: no operator collapses to a 1–2-task bottleneck when width is
  * available — i.e. the plans SCALE OUT, and local[32] numbers are a
  * parallelism-bound preview, not a single-task fluke that would wall at
  * 100 TB.
  *
  * This is a CHECK, not a log (the round-8 advisor's point): AQE
  * partition COALESCING is disabled (skew handling stays on), so a
  * shuffle that honors the forced width runs exactly `width` tasks and
  * anything narrower is a genuine plan collapse; scans are widened via a
  * small `files.maxPartitionBytes` so the input side exercises many-task
  * reads too. Every audited query must reach `max_tasks >= width` —
  * failures print a COLLAPSED summary line and exit nonzero.
  *
  * One JSON line on stdout:
  * `{"shuffle":N,"collapsed":[...],"queries":{name:{"stages":n,"max_tasks":m,"wall_s":t}}}`.
  */
object ScaleAudit {

  /** The audited heavy list — the gate queries with corpus-keyed
    * exchanges (shared with [[PlanLint]]'s post-AQE executed walk, which
    * re-checks the same plans after adaptive re-planning).
    */
  val heavy: Seq[String] = Seq(
    "semantic_dedup", "dedup_ngram_jaccard", "decontam_clean",
    "ann_ivfpq_topk", "corpus_curated", "dedup_clusters_chain",
    "dedup_paragraph", "ann_hamming_topk", "dedup_minhash_est",
    "rerank_cross_topk", "q21_waiting_suppliers",
    "q9_product_profit", "window_running_balance",
    "events_click_attribution", "decontam_multi_eval",
    "novelty_score", "select_token_budget", "split_proportions",
    "graph_pagerank_covisit", "sketch_kmv_distinct", "cdc_scd2_history",
    // round-11 additions (ops with keyed exchanges; pure single-row
    // global aggs like profile_corr are excluded by design — their
    // width IS the scan width, data-proportional by construction)
    "sketch_cms_rolling_heavy", "sketch_quantile_rolling",
    "split_leakage_audit", "fd_audit", "events_value_trend",
    "table_profile_orders", "graph_item_similarity_topk",
    // round-12: the bucketed interval join (equi-key exchange both
    // sides), the score-keyed AUC partial agg, and the self-retrieval
    // postings pass
    "events_range_join", "quality_auc_lang", "text_self_retrieval_mrr",
    // round-13: the full assembly recipes (max_tasks is the MAX over
    // stages, so the source-bounded packing tail doesn't mask the
    // corpus-keyed dedup/decontam exchanges — both proven to reach
    // forced width 1024 in SCALE_AUDIT_r13_1024.json), the digest-
    // merged range join, and the classifier-seam AUC
    "corpus_curated_v4", "corpus_curated_v5",
    "events_range_join_stream2", "quality_classifier_auc",
    // round-14: the real-head assembly, the streaming calibration and
    // funnel folds, and the new ANN/decontam/dedup/retrieval tranche
    "corpus_curated_v6", "quality_ngram_head_auc", "quality_auc_stream",
    "corpus_curation_funnel_stream", "ann_hard_negatives",
    "ann_contrastive_triples", "decontam_embedding",
    "dedup_cluster_keep_best", "dedup_keep_best", "rag_context_pack",
    "embedding_drift", "quality_score_ecdf", "cluster_balanced_select",
    "curriculum_phases",
    // round-15: the index-backed mining legs (corpus-sized cell
    // assignment + cell-keyed candidate exchange) and the drift walk's
    // corpus-sized (group, bucket) partial agg. The ULM gates are
    // dict-bounded by design (the BPE word-dict shortcut) — their
    // corpus-touching stage is one scan-width pass, excluded like the
    // other scan-bounded ops.
    "ann_hard_negatives_ivf", "ann_contrastive_triples_ivf",
    "events_value_drift",
    // round-16: the in-engine head training (two corpus-keyed
    // map-side-combined aggregates per gradient round) and the
    // distillation-closed curation recipe. ulm_train_soft is
    // dict-bounded like the other ULM gates — excluded by design.
    "quality_head_train", "corpus_curated_v7",
    // round-17: the maximal-span dedup (distinct-window agg + postings
    // join + per-doc islands window), the NFC-keyed dedup cluster agg
    // (corpus-keyed exchange on norm_h), and the cross-modal IVF search
    // (cell-keyed candidate exchange). The remaining unicode gates are
    // scan-bounded per-row projections — excluded by design.
    "dedup_max_spans", "unicode_dedup_clusters", "multimodal_crossmodal_topk",
    "dedup_trim_max_spans",
    // round-18: the adversarial-corpus gates (80% boilerplate docs /
    // Zipf-hot event keys) — the distributions the hot-shingle cap and
    // the salted LWW fold exist for; in the heavy list so every audit
    // family (width, balance, bytes) has an adversarial section
    "adv_dedup_ngram_jaccard", "adv_dedup_window_profile",
    "adv_lww_latest_salted")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "256").toInt
    val spark = Harness.session(width, Seq(
      // coalescing OFF: a 256-wide exchange must RUN 256 tasks here, so a
      // partial collapse (8 tasks) is observable instead of being folded
      // into AQE's local-volume coalesce; skew splitting stays enabled.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // widen the scans too: sf0.1 files are small enough to read in 1-2
      // tasks at the 128m default, which would hide a scan-side collapse
      "spark.sql.files.maxPartitionBytes" -> "4m"))

    // optional argv: audit exactly these queries instead of the built-in
    // list (the width-1024 stress runs name the 5 heaviest explicitly)
    val targets = if (args.nonEmpty) args.toSeq else heavy
    var collapsed = List.empty[String]
    val out = targets.map { name =>
      // noop sink, not count(): count() lets Catalyst prune every
      // unreferenced projection (e.g. a reassembly collect_list under a
      // final groupBy), so the audit would measure a cheaper plan than
      // the gate query actually runs
      val m = Harness.measure(spark) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val maxTasks = m.stages.map(_.numTasks).maxOption.getOrElse(0)
      if (maxTasks < width) collapsed ::= name
      f""""$name":{"stages":${m.stages.size},"max_tasks":$maxTasks,"wall_s":${m.seconds}%.2f}"""
    }
    val coll = collapsed.reverse.map(n => s""""$n"""").mkString("[", ",", "]")
    println(s"""{"shuffle":$width,"collapsed":$coll,"queries":{${out.mkString(",")}}}""")
    if (collapsed.nonEmpty) {
      System.err.println(s"COLLAPSED (max_tasks < $width): ${collapsed.reverse.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
