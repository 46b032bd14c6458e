package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's views, pinned: the bench run order, Bench's
  * compact-line keys, the oracle key set and the exact `oracle_sql.json`
  * text the driver reads. Dropping, renaming or re-cohorting one entry
  * changes at least one of them.
  */
class CatalogSpec extends AnyFunSuite {

  private val benchOrder = Seq(
    "hc_claims_report", "hc_daily_monitoring", "hc_dim_patients", "hc_dim_providers",
    "hc_dsv2_source", "hc_fact_encounters", "hc_stg_claims", "hc_stg_ehr", "hc_stg_vitals",
    "hc_stream_etl", "q01_pricing_summary", "q02_asof_band_join", "q03_regional_revenue",
    "q04_top_orders_per_customer", "q05_daily_event_report", "q06_order_daily_report",
    "q07_quality_score", "q08_range_validate", "q09_quality_filter", "q100_semdedup",
    "q101_lm_score", "q102_dedup_keepers", "q103_mixture", "q104_curate",
    "q105_span_dedup", "q106_jl_project", "q107_wsample", "q108_chunks", "q109_bm25",
    "q10_value_categorize", "q110_quant_ann", "q111_entity_res", "q112_adaptive_q",
    "q113_curriculum", "q114_hard_neg", "q115_hybrid_retrieval", "q116_media_neardup",
    "q117_compaction_plan", "q118_repetition", "q119_ann_recall", "q11_freshness",
    "q120_quota_sample", "q121_versioned_table", "q122_normalize", "q123_delete_optimize",
    "q124_contrastive", "q125_upsert", "q126_bloom_lookup", "q12_top_events",
    "q13_buyer_error_users", "q14_doc_tokens", "q15_exact_dedup", "q16_text_quality",
    "q17_ann_cosine_topk", "q18_minhash_dedup", "q19_simhash_dedup", "q20_ngram_jaccard",
    "q21_embedding_neardup", "q22_lang_id", "q23_fingerprint", "q24_token_counts",
    "q25_ann_lsh", "q26_media_features", "q27_text_quality_features", "q28_ann_ivf",
    "q29_window_lag", "q30_rollup", "q31_semi_anti", "q32_pii_redact", "q33_sessionize",
    "q34_percentiles", "q35_neardup_exact", "q36_cube", "q37_pivot", "q38_above_avg",
    "q39_word_topk", "q40_deciles", "q41_weekly_cumulative", "q42_strings",
    "q43_asof_join", "q44_json", "q45_distinct_users", "q46_rank_family",
    "q47_datetime_suite", "q48_sliding_window", "q49_setops_regexp", "q50_contamination",
    "q51_episodes", "q52_value_windows", "q53_repetition", "q54_null_funcs", "q55_stats",
    "q56_corr_regr", "q57_gapfill", "q58_dedup_clusters", "q59_pack_sequences",
    "q60_bloom_semi_join", "q61_bag_setops", "q62_array_suite", "q63_tumbling_window",
    "q64_ann_ivf_rq", "q65_grouping_sets", "q66_listagg_mode", "q67_range_join",
    "q68_volume_shipping", "q69_large_orders", "q70_zorder_values", "q71_histogram",
    "q72_salted_agg", "q73_scd2_replay", "q74_doc_freq", "q75_tfidf", "q76_topk_agg",
    "q77_schema_evolution", "q78_unpivot", "q79_band_join_bucketed", "q80_recursive_cte",
    "q81_session_window", "q82_lateral_topn", "q83_having_share", "q84_profile",
    "q85_small_qty_revenue", "q86_sole_late_supplier", "q87_idle_rich_customers",
    "q88_brand_supplier_counts", "q89_order_reconcile", "q90_merge_upsert",
    "q91_fuzzy_names", "q92_heavy_hitters", "q93_hash_sample", "q94_bitmap_distinct",
    "q95_hll_rollup", "q96_top_supplier", "q97_zscore_outliers", "q98_custdist",
    "q99_fuzzy_passjoin", "q127_fact_grain", "q128_partitioned_table", "q129_change_feed",
    "q130_restore_clone", "q131_replace_parts", "q132_cdf_view", "q133_deletion_vectors",
    "q134_versioned_lakehouse", "q135_column_mapping", "q136_merge_into",
    "q137_change_feed", "q138_sql_catalog", "q139_sql_dml", "q140_merge_evolution",
    "q141_index_follow", "q142_novelty", "q143_novelty_curate")

  private val shortKeys = Seq(
    "hcr", "hdm", "hdp", "hdq", "hds", "hfe", "hsc", "hse", "hsv", "hst", "q01", "q02",
    "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q100", "q101", "q102", "q103",
    "q104", "q105", "q106", "q107", "q108", "q109", "q10", "q110", "q111", "q112", "q113",
    "q114", "q115", "q116", "q117", "q118", "q119", "q11", "q120", "q121", "q122", "q123",
    "q124", "q125", "q126", "q12", "q13", "q14", "q15", "q16", "q17", "q18", "q19", "q20",
    "q21", "q22", "q23", "q24", "q25", "q26", "q27", "q28", "q29", "q30", "q31", "q32",
    "q33", "q34", "q35", "q36", "q37", "q38", "q39", "q40", "q41", "q42", "q43", "q44",
    "q45", "q46", "q47", "q48", "q49", "q50", "q51", "q52", "q53", "q54", "q55", "q56",
    "q57", "q58", "q59", "q60", "q61", "q62", "q63", "q64", "q65", "q66", "q67", "q68",
    "q69", "q70", "q71", "q72", "q73", "q74", "q75", "q76", "q77", "q78", "q79", "q80",
    "q81", "q82", "q83", "q84", "q85", "q86", "q87", "q88", "q89", "q90", "q91", "q92",
    "q93", "q94", "q95", "q96", "q97", "q98", "q99", "q127", "q128", "q129", "q130",
    "q131", "q132", "q133", "q134", "q135", "q136", "q137", "q138", "q139", "q140", "q141",
    "q142", "q143")

  test("each query is declared once; the bench order is the round-7 cohort sorted, then the late queries") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.benchOrder === benchOrder)
  }

  test("compact-line keys: the pinned set, every key unique") {
    val keys = SparkEntry.catalog.map(_.shortKey)
    assert(keys.distinct.size === keys.size)
    assert(keys.toSet === shortKeys.toSet)
    assert(shortKeys.distinct.size === benchOrder.size)
  }

  test("oracle keys are query keys: 140 of 153") {
    assert(SparkEntry.oracleSql.size === 140)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracle_sql.json is byte-identical to the pinned rendering") {
    val json = Verify.oracleJson(SparkEntry.oracleSql)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    assert(sha === "907f9238408105e9e910082573227c9e592aaa69d6c6c2551d2ad55537b1b73a")
  }
}
