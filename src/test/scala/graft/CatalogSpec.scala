package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog

/** Pins the query surface: a refactor that drops a query or its oracle
  * would otherwise pass silently (Bench's keys would shrink and the
  * oracle compare would check fewer rows). */
class CatalogSpec extends AnyFunSuite {
  private def names(s: String): Set[String] = s.split("\\s+").filter(_.nonEmpty).toSet

  private val withOracle = names("""
    a12_dominant a15_eval_accuracy a15_per_item a15_rollup a16_pivot
    a1_type_dist a2_len_hist a4_lang_dist a9_disagreement
    cascade_decide curate_corpus dedup_components
    dedup_embedding_cosine dedup_embedding_lsh
    dedup_embedding_lsh_star dedup_exact dedup_minhash_lsh
    dedup_minhash_lsh_star dedup_minhash_oph dedup_minhash_verified
    dedup_ngram_jaccard dedup_repeated_spans dedup_simhash
    dedup_simhash_star dedup_text_keep e1_tumbling_window
    e2_sessionize e3_json_extract f1_valid_gate f4_stats_filter
    f8_outlier_filter j1_broadcast_join j2_anti_join_resume
    j2_semi_join j4_asof_join p1_alpha_ratio p2_base_info p5_id_parse
    pack_sequences q14_promo_share q1_agg q3_revenue_topk
    q5_region_revenue q6_selective_agg q_supplier_nation
    quality_drift_monitor sample_mixture_balance sample_stratified
    sample_temperature_mix sim_ann_lsh_recall sim_norms
    sim_topk_bruteforce stage1b_stats stage1b_typedist
    t5_top_disagreements text_decontaminate text_decontaminate_hashed
    text_fingerprint text_gopher text_gopher_top2gram
    text_langid_heuristic text_normalize_nfc text_quality
    text_tfidf_topk text_tokens u1_distinct_langs u2_rows_exact
    u3_quantiles_exact w1_running_sum w2_topn_per_key""")

  private val rowsOnly = names("""
    dedup_audio_fingerprint dedup_audio_keep dedup_audio_neardup
    mm_image_features mm_resize mm_video_frame_sample
    pipeline_audio_chunks pipeline_audio_features pipeline_audio_mel
    pipeline_audio_resample pipeline_audio_spectral pipeline_decisions
    pipeline_metrics pipeline_scrubbed pipeline_stage1
    quality_ppl_buckets sim_ann_ivf sim_ann_ivf_recall sim_ann_lsh
    text_bpe_tokens text_compression_ratio text_lang_segments
    u2_approx_distinct u3_approx_quantiles""")

  test("catalog: 94 queries, 9 pipeline_* stages, 70 oracles, names unique; " +
      "SparkEntry's maps are the catalog's") {
    val all = Catalog.all.map(_.name)
    assert(all.size == 94 && all.distinct.size == 94, all)
    assert(all.toSet == withOracle ++ rowsOnly)
    assert(all.count(_.startsWith("pipeline_")) == 9)
    assert(withOracle.size == 70)
    assert(Catalog.all.filter(_.oracle.isDefined).map(_.name).toSet == withOracle)
    assert(SparkEntry.queries.keySet == all.toSet)
    Catalog.all.foreach(q => assert(SparkEntry.oracleSql.get(q.name) == q.oracle, q.name))
  }
}
