package graft.tools

/** Dumps `explain("formatted")` for the headline queries to
  * history/PLANS.md — the plan-shape audit trail (pushdown, broadcast,
  * codegen spans, exchange placement) kept current per round.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "history/PLANS.md"
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")

    val headline = Seq(
      "q_scan_filter", "q1_agg", "q_join_agg", "q_topk_orders", "q_window_rank",
      "q_asof_join", "q_dedup_minhash", "q_dedup_simhash", "q_ann_topk",
      "q_ann_ivf", "q_term_freq", "q_extract_patterns",
      "q_pivot", "q_histogram", "q_sessionize_native", "q_join_salted",
      "q_repetition", "q_kmeans_exact", "q_bm25", "q_sample_stratified",
      "q_ann_lsh", "q_multimodal_features",
      "q_chunk_overlap", "q_bloom_join", "q_merge_upsert", "q_scd2",
      "q_triangles", "q_semantic_dedup", "q_zorder", "q_window_range",
      "q_fuzzy_join", "q_heavy_hitters", "q_normalize_text",
      "q_dedup_incremental", "q_incremental_agg", "q_outliers_iqr",
      "q_profile", "q_reconcile",
      // r8 additions
      "q_dup_spans", "q_dedup_substring", "q_url_normalize", "q_lm_score",
      "q_inverted_index", "q_merge_cdc", "q_multimodal_mulaw", "q_bpe_apply",
      // late-r8 tranche
      "q_dedup_paragraphs", "q_domain_stats", "q_robots_filter",
      "q_hll_distinct", "q_sample_weighted", "q_funnel", "q_retention",
      "q_gapfill", "q_corr",
      // r14: vocabCoverage's global-order window became a two-phase
      // bucketed cumulative sum — audit that no single-partition window
      // (or exchange-to-one) reappears in its plan
      "q_vocab_coverage",
      // r16: survivor-oriented embedding dedup — audit the shuffle-hash
      // pins on the membership joins and the absence of any
      // corpus-proportional broadcast
      "q_embed_dedup_ids", "q_simhash_dedup_ids", "q_image_dedup_ids",
      // r19: the quality gate's four per-document kernels fused into one
      // codegen'd graft_text_stats pass — audit that the curate chain's
      // scan side stays a single project over the parquet read (no
      // re-introduced per-feature passes) and the budget window stays
      // (lang, bucket)-partitioned
      "q_curate", "q_pack_sequences", "q_text_quality",
      // r20: the eval-side broadcast gate went single-scan — audit that
      // the join's eval side reads the persisted prepped projection
      // (InMemoryTableScan under the BroadcastExchange) instead of a
      // second parquet scan of the eval source
      "q_decontaminate_semantic")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.Plans` over `$sfDir` — regenerate with\n")
    sb.append("`sbt \"runMain graft.tools.Plans <sfDir> history/PLANS.md\"`.\n")
    sb.append("Read for: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n")
    sb.append("on dimension joins, `TakeOrderedAndProject` for top-K, `*(n)` codegen\n")
    sb.append("spans around the native kernels, and exchange placement.\n\n")
    headline.foreach { name =>
      val df = graft.Queries.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## $name\n\n```\n").append(plan).append("```\n\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plans] wrote $out (${headline.size} queries)")
    spark.stop()
  }
}
