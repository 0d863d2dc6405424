package graft

/** Prints formatted physical plans for selected queries — the
  * plan-review loop (pushdown, codegen spans, join strategies).
  * Usage: runMain graft.ExplainDump [sfDir] [query ...] */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s1_resumable_scan", "f1_enrich_lineitem", "a2_consistency_metrics",
        "t3_minhash_lsh_pairs", "t6_ann_topk", "w1_windowed_agg",
        "t17_decontaminate", "t18_stratified_sample",
        "t21_repetition", "t23_pack_sequences", "t24_top_terms",
        "t27_span_dedup", "c1_cdc_merge", "c2_snapshot_diff",
        "t31_corpus_shuffle", "p3_profile", "q4_priority_exists",
        "j3_asof_join", "j4_range_join",
        "t33_bloom_dedup", "t34_semdedup", "t35_mixture_weights",
        "t36_dsir_weights", "q12_priority_lines", "q16_supplier_count",
        "q19_disjunctive", "q22_idle_balance",
        "t37_winnowing", "q2_min_cost_supplier", "p7_heavy_hitters_sketch",
        "j5_interval_join", "t38_overlap_matrix", "q14_promo_revenue",
        "t40_ann_index_persist", "t41_winnow_dedup_apply",
        "t48_paragraph_dedup", "t49_gopher_rules",
        "t51_span_removal", "t52_hybrid_batched",
        "t53_fuzzy_paragraph_dedup", "t54_bm25_index_append",
        "t56_ann_index_delete", "t58_ann_index_compact",
        "t59_bm25_index_compact", "t60_pq_index_delete",
        "t61_pq_index_compact", "t62_ann_append_committed",
        "t63_pq_append_committed", "p11_hll_distinct",
        "t34a_semdedup_auto", "j5a_interval_join_auto",
        "p12_kmv_distinct", "p12a_kmv_distinct_agg", "p13_kmv_overlap",
        "t64_weighted_sample", "t65_perplexity_buckets",
        "t66_bpe_merges")
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n================ $n ================")
      Queries.all(n).execute(spark, dir)(_.explain("formatted"))
    }
    spark.stop()
  }
}
