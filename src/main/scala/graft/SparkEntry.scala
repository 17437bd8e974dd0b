package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.Tier.{Extra, Headline, VerifyOnly}

/** Driver contract — see /root/repo/SURVEY.md §7 + COVERAGE.md for the
  * operator-to-query mapping.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q01(spark, "/root/testdata/sf0.001")

  // One-time builds shared by the staged queries below. Bench builds each
  // once and times only the serve half, so build noise cannot mask a
  // serving-path regression; the build cost is reported in `setup_sec`.
  private val q98Index = Setup("q98_index_build")(Queries.q98BuildIndex)
  // two SCD-2 commit cycles, which q80 already times; six queries read it
  private val q106Warehouse = Setup("q106_warehouse_build")(Queries.q106Build)
  private val q127Warehouse = Setup("q127_warehouse_build")(Queries.q127Build)
  private val q130Index = Setup("q130_index_build")(Queries.q130Build)
  // the sweeps mutate their warehouse, so each builds its own
  private val q140Sweep = Setup("q140_sweep_build")(Queries.q140Build)
  private val q145Dv = Setup("q145_dv_build")(Queries.q145Build)
  private val q148Replica = Setup.on("q148_replica_bootstrap", q106Warehouse) {
    case (s, w @ (path, v1, _)) => (w, Queries.q148Bootstrap(s, path, v1))
  }
  private val q161Index = Setup("q161_index_build")(Queries.q161BuildIndex)
  private val q163Index = Setup("q163_index_build")(Queries.q163BuildIndex)
  private val q165Rollup = Setup("q165_rollup_build")(Queries.q165Build)
  private val q171Rollup = Setup("q171_rollup_build")(Queries.q171Build)
  // gzip-encoding the corpus is input generation, not the streaming operator
  private val q182Landing = Setup("q182_fixture_land")(Queries.q182Build)

  /** THE query declaration: one entry per implemented operator from
    * SURVEY.md §2 (+ the LLM-pipeline operator set), in Bench's record
    * order. Every name is a key of [[Oracles.all]] — including the
    * sketch/LSH queries (q37/q38/q41/q44 replicate the banding and hash
    * families in SQL; q63 emits exact stats + deterministic bound-check
    * booleans the oracle recomputes). [[queries]], Verify and Bench all
    * derive from this list.
    */
  val specs: Seq[QuerySpec] = Seq(
    // Headline: the fixed set behind Bench's `total`, in record order
    QuerySpec("q01_pricing_summary", Headline, Queries.q01),
    QuerySpec("q03_join_revenue", Headline, Queries.q03),
    QuerySpec("q04_semi_join", Headline, Queries.q04),
    QuerySpec("q07_window_latest", Headline, Queries.q07),
    QuerySpec("q11_scd2_upsert", Headline, Queries.q11),
    QuerySpec("q12_state_delta", Headline, Queries.q12),
    QuerySpec("q13_explode_tokens", Headline, Queries.q13),
    QuerySpec("q21_dq_suite", Headline, Queries.q21),
    QuerySpec("q30_dedup_exact", Headline, Queries.q30),
    QuerySpec("q32_text_quality", Headline, Queries.q32),
    QuerySpec("q36_jaccard_pairs", Headline, Queries.q36),
    QuerySpec("q37_minhash_lsh", Headline, Queries.q37),
    QuerySpec("q40_ann_bruteforce", Headline, Queries.q40),
    QuerySpec("q41_ann_lsh", Headline, Queries.q41),
    QuerySpec("q43_event_windows", Headline, Queries.q43),
    QuerySpec("q24_sessions", Headline, Queries.q24),
    QuerySpec("q49_asof_join", Headline, Queries.q49),
    QuerySpec("q50_multi_join", Headline, Queries.q50),
    QuerySpec("q47_embedding_neardup", Headline, Queries.q47),
    QuerySpec("q64_tfidf", Headline, Queries.q64),
    QuerySpec("q68_quality_filter", Headline, Queries.q68),
    QuerySpec("q39_simhash_portable", Headline, Queries.q39),
    QuerySpec("q85_ann_ivf_trained", Headline, Queries.q85),
    QuerySpec("q80_scd2_partitioned", Headline, Queries.q80),
    QuerySpec("q86_semantic_dedup", Headline, Queries.q86),
    QuerySpec("q87_mixture_sample", Headline, Queries.q87),
    QuerySpec("q88_dup_groups", Headline, Queries.q88),
    // Extra: timed, reported outside `total`, in record order
    QuerySpec("q89_gopher_gates", Extra, Queries.q89),
    QuerySpec("q90_ann_ivf_sampled", Extra, Queries.q90),
    QuerySpec("q91_image_decode", Extra, Queries.q91),
    QuerySpec("q92_hot_spans", Extra, Queries.q92),
    QuerySpec("q93_url_screen", Extra, Queries.q93),
    QuerySpec("q94_audio_decode", Extra, Queries.q94),
    QuerySpec("q95_video_meta", Extra, Queries.q95),
    QuerySpec("q96_ann_sq8", Extra, Queries.q96),
    QuerySpec("q97_corpus_pipeline", Extra, Queries.q97),
    QuerySpec.staged("q98_ann_ivf_sq8", Extra, q98Index) {
      case (s, _, (idx, cents, qv)) => Queries.q98Probe(s, idx, cents, qv)
    },
    QuerySpec("q99_bpe_tokens", Extra, Queries.q99),
    QuerySpec("q100_lm_perplexity", Extra, Queries.q100),
    QuerySpec("q101_seq_packing", Extra, Queries.q101),
    QuerySpec("q102_stream_dedup", Extra, Queries.q102),
    QuerySpec("q103_bm25_topk", Extra, Queries.q103),
    QuerySpec("q104_stream_interval_join", Extra, Queries.q104),
    QuerySpec("q105_substring_dedup", Extra, Queries.q105),
    QuerySpec.staged("q106_change_feed", Extra, q106Warehouse) {
      case (s, _, (path, v1, v2)) => Queries.q106Feed(s, path, v1, v2)
    },
    QuerySpec("q107_hybrid_rrf", Extra, Queries.q107),
    QuerySpec("q108_recipe_substring", Extra, Queries.q108),
    QuerySpec("q109_bm25_batch", Extra, Queries.q109),
    QuerySpec("q110_video_frames", Extra, Queries.q110),
    QuerySpec("q111_stream_enrich", Extra, Queries.q111),
    QuerySpec("q112_fuzzy_match", Extra, Queries.q112),
    QuerySpec("q113_heavy_hitters", Extra, Queries.q113),
    QuerySpec("q114_ann_pq", Extra, Queries.q114),
    QuerySpec("q115_ann_ivf_pq", Extra, Queries.q115),
    QuerySpec("q116_pagerank", Extra, Queries.q116),
    QuerySpec("q117_gapfill", Extra, Queries.q117),
    QuerySpec("q118_funnel", Extra, Queries.q118),
    QuerySpec.staged("q119_incremental_mv", Extra, q106Warehouse) {
      case (s, _, (path, v1, v2)) => Queries.q119Maintain(s, path, v1, v2)
    },
    QuerySpec("q120_range_join", Extra, Queries.q120),
    QuerySpec("q121_leakage_split", Extra, Queries.q121),
    QuerySpec("q122_retention", Extra, Queries.q122),
    QuerySpec("q123_cube", Extra, Queries.q123),
    QuerySpec("q124_moving_agg", Extra, Queries.q124),
    QuerySpec("q125_hll_sketch", Extra, Queries.q125),
    QuerySpec("q126_neardup_split", Extra, Queries.q126),
    QuerySpec.staged("q127_pit_lookup", Extra, q127Warehouse) {
      case (s, dir, (path, _, v2)) => Queries.q127Probe(s, path, v2, dir)
    },
    QuerySpec("q128_image_neardup", Extra, Queries.q128),
    QuerySpec("q129_bloom_decontam", Extra, Queries.q129),
    QuerySpec.staged("q130_bm25_index", Extra, q130Index) {
      (s, _, idx) => Queries.q130Probe(s, idx)
    },
    QuerySpec("q131_topk_per_group", Extra, Queries.q131),
    QuerySpec("q132_collocations", Extra, Queries.q132),
    QuerySpec("q133_sampled_quantiles", Extra, Queries.q133),
    QuerySpec("q134_canonical_dedup", Extra, Queries.q134),
    QuerySpec("q135_ppjoin", Extra, Queries.q135),
    QuerySpec("q136_orc_roundtrip", Extra, Queries.q136),
    QuerySpec("q137_embedding_centroids", Extra, Queries.q137),
    QuerySpec("q138_entity_resolution", Extra, Queries.q138),
    QuerySpec("q139_bpe_training", Extra, Queries.q139),
    QuerySpec.staged("q140_gdpr_sweep", Extra, q140Sweep) {
      (s, _, path) => Queries.q140Read(s, path)
    },
    QuerySpec.staged("q141_version_drift", Extra, q106Warehouse) {
      case (s, _, (path, v1, v2)) => Queries.q141Drift(s, path, v1, v2)
    },
    QuerySpec("q142_repetition", Extra, Queries.q142),
    QuerySpec("q143_quality_classifier", Extra, Queries.q143),
    QuerySpec("q144_zone_map", Extra, Queries.q144),
    QuerySpec.staged("q145_gdpr_deferred", Extra, q145Dv) {
      (s, _, path) => Queries.q145Read(s, path)
    },
    QuerySpec("q146_incremental_lsh", Extra, Queries.q146),
    QuerySpec("q147_domain_cap", Extra, Queries.q147),
    QuerySpec.staged("q148_cdc_apply", Extra, q148Replica) {
      case (s, _, ((path, v1, v2), replica)) => Queries.q148Apply(s, path, v1, v2, replica)
    },
    QuerySpec("q149_containment", Extra, Queries.q149),
    QuerySpec("q150_decayed_value", Extra, Queries.q150),
    QuerySpec("q151_stream_decay", Extra, Queries.q151),
    QuerySpec("q152_triangles", Extra, Queries.q152),
    QuerySpec("q153_golden_record", Extra, Queries.q153),
    QuerySpec("q154_widened_read", Extra, Queries.q154),
    QuerySpec("q155_replica_audit", Extra, Queries.q155),
    QuerySpec("q156_label_screen", Extra, Queries.q156),
    QuerySpec("q157_dimension_stats", Extra, Queries.q157),
    QuerySpec("q158_histogram", Extra, Queries.q158),
    QuerySpec("q159_balanced_sample", Extra, Queries.q159),
    QuerySpec("q160_shard_manifest", Extra, Queries.q160),
    QuerySpec.staged("q161_pq_index_probe", Extra, q161Index) {
      case (s, _, (idx, coarse, cbs, qv)) => Queries.q161Probe(s, idx, coarse, cbs, qv)
    },
    QuerySpec("q162_stream_lsh_dedup", Extra, Queries.q162),
    QuerySpec.staged("q163_ann_ivf_pq_residual", Extra, q163Index) {
      case (s, _, (idx, coarse, cbs, qv)) => Queries.q163Probe(s, idx, coarse, cbs, qv)
    },
    QuerySpec("q164_stream_vector_index", Extra, Queries.q164),
    QuerySpec.staged("q165_sketch_rollup", Extra, q165Rollup) {
      (s, dir, path) => Queries.q165Probe(s, path, dir)
    },
    QuerySpec.staged("q166_stream_cdc_apply", Extra, q106Warehouse) {
      case (s, _, (path, v1, v2)) => Queries.q166Stream(s, path, v1, v2)
    },
    QuerySpec("q167_classifier_training", Extra, Queries.q167),
    QuerySpec("q168_crosscorpus_lsh", Extra, Queries.q168),
    QuerySpec("q169_stream_sketch_mv", Extra, Queries.q169),
    QuerySpec("q170_mixture_upsample", Extra, Queries.q170),
    QuerySpec.staged("q171_histogram_rollup", Extra, q171Rollup) {
      (s, _, path) => Queries.q171Probe(s, path)
    },
    QuerySpec.staged("q172_join_mv", Extra, q106Warehouse) {
      case (s, dir, (path, v1, v2)) => Queries.q172Maintain(s, path, v1, v2, dir)
    },
    QuerySpec("q173_retention_sweep", Extra, Queries.q173),
    QuerySpec("q174_dataset_card", Extra, Queries.q174),
    QuerySpec("q175_warc_ingest", Extra, Queries.q175),
    QuerySpec("q176_line_dedup", Extra, Queries.q176),
    QuerySpec("q177_avro_roundtrip", Extra, Queries.q177),
    QuerySpec("q178_html_text", Extra, Queries.q178),
    QuerySpec("q179_html_links", Extra, Queries.q179),
    QuerySpec("q180_epoch_shuffle", Extra, Queries.q180),
    QuerySpec("q181_crawl_corpus", Extra, Queries.q181),
    QuerySpec.staged("q182_stream_warc", Extra, q182Landing) {
      (s, _, landing) => Queries.q182Stream(s, landing)
    },
    QuerySpec("q183_span_corruption", Extra, Queries.q183),
    QuerySpec("q184_packed_sequences", Extra, Queries.q184),
    QuerySpec("q185_importance_sample", Extra, Queries.q185),
    QuerySpec("q186_k_anonymity", Extra, Queries.q186),
    QuerySpec("q187_jsonl_ingest", Extra, Queries.q187),
    QuerySpec("q188_label_vote", Extra, Queries.q188),
    QuerySpec("q189_annotator_audit", Extra, Queries.q189),
    QuerySpec("q190_distribution_drift", Extra, Queries.q190),
    QuerySpec("q191_xml_ingest", Extra, Queries.q191),
    QuerySpec("q192_bloom_index", Extra, Queries.q192),
    QuerySpec("q193_warc_charset", Extra, Queries.q193),
    QuerySpec("q194_dawid_skene", Extra, Queries.q194),
    QuerySpec("q195_delta_roundtrip", Extra, Queries.q195),
    QuerySpec("q196_label_screen_ivf", Extra, Queries.q196),
    QuerySpec("q197_ann_pq_rerank", Extra, Queries.q197),
    QuerySpec("q198_covariance", Extra, Queries.q198),
    QuerySpec("q199_covariance_fold", Extra, Queries.q199),
    // VerifyOnly: oracle-checked, not timed
    QuerySpec("q02_filter_pushdown", VerifyOnly, Queries.q02),
    QuerySpec("q05_anti_join", VerifyOnly, Queries.q05),
    QuerySpec("q06_dim_rollup", VerifyOnly, Queries.q06),
    QuerySpec("q08_distinct", VerifyOnly, Queries.q08),
    QuerySpec("q09_in_list", VerifyOnly, Queries.q09),
    QuerySpec("q10_null_sentinel", VerifyOnly, Queries.q10),
    QuerySpec("q14_first_element", VerifyOnly, Queries.q14),
    QuerySpec("q15_json_extract", VerifyOnly, Queries.q15),
    QuerySpec("q16_float_to_long", VerifyOnly, Queries.q16),
    QuerySpec("q17_year_filter", VerifyOnly, Queries.q17),
    QuerySpec("q18_date_parts", VerifyOnly, Queries.q18),
    QuerySpec("q19_mask_hash", VerifyOnly, Queries.q19),
    QuerySpec("q20_scd2_two_key", VerifyOnly, Queries.q20),
    QuerySpec("q22_unique_check", VerifyOnly, Queries.q22),
    QuerySpec("q23_rollup", VerifyOnly, Queries.q23),
    QuerySpec("q26_distinct_profile", VerifyOnly, Queries.q26),
    QuerySpec("q27_pivot", VerifyOnly, Queries.q27),
    QuerySpec("q51_conditional_agg", VerifyOnly, Queries.q51),
    QuerySpec("q52_like_filter", VerifyOnly, Queries.q52),
    QuerySpec("q53_date_arith", VerifyOnly, Queries.q53),
    QuerySpec("q54_correlated_avg", VerifyOnly, Queries.q54),
    QuerySpec("q55_union_distinct", VerifyOnly, Queries.q55),
    QuerySpec("q56_exists_combo", VerifyOnly, Queries.q56),
    QuerySpec("q57_string_funcs", VerifyOnly, Queries.q57),
    QuerySpec("q58_min_by_group", VerifyOnly, Queries.q58),
    QuerySpec("q31_text_tokens", VerifyOnly, Queries.q31),
    QuerySpec("q33_lang_id", VerifyOnly, Queries.q33),
    QuerySpec("q34_rolling_fingerprint", VerifyOnly, Queries.q34),
    QuerySpec("q35_minhash_signature", VerifyOnly, Queries.q35),
    QuerySpec("q38_simhash", VerifyOnly, Queries.q38),
    QuerySpec("q42_multimodal_meta", VerifyOnly, Queries.q42),
    QuerySpec("q45_stream_windows", VerifyOnly, Queries.q45),
    QuerySpec("q46_lsh_buckets", VerifyOnly, Queries.q46),
    QuerySpec("q48_profile", VerifyOnly, Queries.q48),
    QuerySpec("q60_repetition", VerifyOnly, Queries.q60),
    QuerySpec("q61_vocab", VerifyOnly, Queries.q61),
    QuerySpec("q62_stratified_sample", VerifyOnly, Queries.q62),
    QuerySpec("q63_approx_stats", VerifyOnly, Queries.q63),
    QuerySpec("q65_simhash_neardup", VerifyOnly, Queries.q65),
    QuerySpec("q66_pii_redact", VerifyOnly, Queries.q66),
    QuerySpec("q67_unicode_canon", VerifyOnly, Queries.q67),
    QuerySpec("q44_media_decode", VerifyOnly, Queries.q44),
    QuerySpec("q70_pipeline_golden", VerifyOnly, Queries.q70),
    QuerySpec("q71_report_ingest", VerifyOnly, Queries.q71),
    QuerySpec("q72_ann_ivf", VerifyOnly, Queries.q72),
    QuerySpec("q73_group_minhash", VerifyOnly, Queries.q73),
    QuerySpec("q74_stream_sessions", VerifyOnly, Queries.q74),
    QuerySpec("q75_crypto_roundtrip", VerifyOnly, Queries.q75),
    QuerySpec("q76_salted_join", VerifyOnly, Queries.q76),
    QuerySpec("q77_paged_ingest", VerifyOnly, Queries.q77),
    QuerySpec("q78_decontamination", VerifyOnly, Queries.q78),
    QuerySpec("q79_stream_delta", VerifyOnly, Queries.q79),
    QuerySpec("q81_chunking", VerifyOnly, Queries.q81),
    QuerySpec("q82_returned_items", VerifyOnly, Queries.q82),
    QuerySpec("q83_volume_shipping", VerifyOnly, Queries.q83),
    QuerySpec("q84_disjunctive_pred", VerifyOnly, Queries.q84)
  )

  /** The driver's query map, derived from [[specs]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. As of round 3 every query key has an oracle entry.
    */
  def oracleSql: Map[String, String] = Oracles.all
}
