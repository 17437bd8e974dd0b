package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * emits ONE machine-readable JSON line — both to stdout (unprefixed; the
  * build routes forked output straight through) and to BENCH_LOCAL_<sf>.json
  * in the working directory, so the driver can parse either.
  *
  * Failure-honest: a query that throws is recorded with `null` time plus an
  * entry in `errors` (never folded into the headline total as a fake-fast
  * time). Round-over-round guard: per-query times are compared against a
  * FLOOR taken as the min across all untainted BENCH_r*.json records
  * (plus the round-2 numbers inlined below) and >2x slowdowns are listed
  * in `regressions_x`, keyed by query name with the slowdown RATIO
  * (now/baseline) as the value. The record carries load telemetry
  * (`load`, `tainted`): a run that shared the machine with another
  * workload is stamped tainted and never becomes a comparison floor.
  *
  * Methodology note, stated here and in the JSON (`cache_policy`): the
  * warm-up pass runs every headline query once at the target SF before
  * timing, so timed runs measure warm steady-state — C2-compiled generated
  * code, JIT'd parquet readers, resident file-listing caches. The warm-up
  * and every timed repetition each run inside their own
  * [[graft.core.Caching.scoped]] scope: a query that caches a shared
  * subtree pays that cache's population inside each rep (the within-run
  * reuse it legitimately buys still counts), and the scope releases the
  * cache when the rep ends — runs 2..3 never read a cache run 1 left
  * behind, so min-of-3 measures steady-state cost including cache fill.
  */
object Bench {

  /** FULL-MATERIALIZATION timing action (round-10 fix): `count()` let
    * the optimizer PRUNE pure-projection queries to a metadata-only
    * parquet scan — q142/q143-class per-row operators timed ~0.1 s while
    * their real cost went unmeasured (q142's first formulation ground
    * for minutes at sf1 yet "benched" at 0.18 s). Hashing every output
    * column of every row forces the whole expression tree to evaluate;
    * the xxhash64+sum on top is one narrow stage, negligible next to the
    * work it now honestly exposes. Map-typed columns aren't hashable —
    * such frames (none currently) fall back to count().
    *
    * THE one timing action: [[Scratch]] calls this same method, so
    * isolated floor comparisons stay 1:1 with bench records by
    * construction (ADVICE r14 #3 — no second copy to drift).
    */
  def materialize(df: DataFrame): Unit = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val safe = df.schema.fields.filter(f => hashable(f.dataType)).map(f => org.apache.spark.sql.functions.col(f.name))
    if (safe.isEmpty) { df.count(); () }
    else {
      // bit_xor, not sum: hashes span the full long range and an ANSI
      // sum overflows (killed the first hash_rows run, 93/93 errors)
      df.select(org.apache.spark.sql.functions.xxhash64(safe: _*).as("__h"))
        .agg(org.apache.spark.sql.functions.expr("bit_xor(__h)"))
        .head()
      ()
    }
  }

  /** Re-based comparison floor (VERDICT r02 "what's wrong #5"): per-query
    * seconds from BENCH_r02.json — the first round measured under the
    * CURRENT methodology (warm-up pass + min-of-3), inlined so the
    * regression guard compares like-for-like even if the file vanishes.
    * The round-1 cold single-run numbers are retired: comparing a min-of-3
    * floor against them understated regressions by the warm-up delta.
    */
  private val r02Baseline: Map[String, Double] = Map(
    "q01_pricing_summary" -> 0.273064604, "q03_join_revenue" -> 0.673557633,
    "q04_semi_join" -> 0.451076967, "q07_window_latest" -> 0.318894504,
    "q11_scd2_upsert" -> 0.755488641, "q12_state_delta" -> 0.206440562,
    "q13_explode_tokens" -> 0.166958701, "q21_dq_suite" -> 0.722663292,
    "q30_dedup_exact" -> 0.244745102, "q32_text_quality" -> 0.206659361,
    "q36_jaccard_pairs" -> 0.681421693, "q37_minhash_lsh" -> 0.576626292,
    "q40_ann_bruteforce" -> 0.256108543, "q41_ann_lsh" -> 0.32213532,
    "q43_event_windows" -> 0.253241066, "q24_sessions" -> 0.474027218,
    "q49_asof_join" -> 0.196485629, "q50_multi_join" -> 0.932504144,
    "q47_embedding_neardup" -> 0.664460294, "q64_tfidf" -> 0.815248317,
    "q68_quality_filter" -> 1.026726051, "q39_simhash_portable" -> 0.123807525,
    // the five headline queries added after r02 and the r06/r07 extras,
    // floored at their first min-of-3 measurements (BENCH_r06 /
    // round-7 local run) so the fallback guard covers the WHOLE suite —
    // a missing key here would silently exempt a query from the >2x check
    "q80_scd2_partitioned" -> 5.2854, "q85_ann_ivf_trained" -> 2.2633,
    "q86_semantic_dedup" -> 2.6845, "q87_mixture_sample" -> 0.1503,
    "q88_dup_groups" -> 2.0388,
    "q89_gopher_gates" -> 0.9794, "q90_ann_ivf_sampled" -> 1.0807,
    "q91_image_decode" -> 0.2959, "q92_hot_spans" -> 0.8659,
    "q93_url_screen" -> 0.1364, "q94_audio_decode" -> 0.1838,
    "q95_video_meta" -> 0.1396, "q96_ann_sq8" -> 0.1809,
    "q97_corpus_pipeline" -> 0.7346, "q98_ann_ivf_sq8" -> 0.2491
  )

  /** Per-query FLOOR = min across every parseable, UNTAINTED
    * BENCH_r*.json in cwd (queries + extras), min-merged with the inlined
    * r02-policy floor. Rationale (VERDICT r08 "what's wrong #1"): the
    * previous newest-round-wins rule made one contention-polluted
    * round-close record (r06, r08) the comparison base for the next round,
    * producing phantom `regressions_x` that each cost a manual
    * adjudication. A min-across-rounds floor is immune: an inflated record
    * never wins the min, and a record stamped `"tainted": true` by the
    * load telemetry below is excluded outright.
    *
    * The floor is SF-SCOPED: only records whose `sf` dir matches the
    * current run contribute, and the r02 inline floor (an sf0.1
    * measurement) applies only to sf0.1 runs — comparing an sf1 run
    * against an sf0.1 floor flags every query ~10x "regressed", which is
    * scale, not regression (the first telemetry-era sf1 refresh hit
    * exactly this). A run at an SF with no prior record gets an empty
    * floor and an honest empty `regressions_x`.
    */
  /** A query's stable identity across record formats: the `qNNN` prefix.
    * The round-close record the driver captures uses SHORT keys ("q114")
    * to fit its bounded tail window (r10: the full-name line outgrew the
    * 2000-char window and the round parsed as null — the regression guard
    * was silently disarmed); local records keep full names. Flooring by
    * prefix makes both formats min-mergeable.
    */
  private def qkey(name: String): String = name.split('_').head

  private def loadBaseline(sfDir: String): (String, Map[String, Double]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var used = 0
    // accepts either wrapper shape: BENCH_r*.json nests the record under
    // "parsed" (driver capture), BENCH_LOCAL.json IS the record (our own
    // full-fidelity write — min-merged so floors survive even a round
    // whose driver-side capture truncated)
    def floorsOf(node: com.fasterxml.jackson.databind.JsonNode): Option[Seq[(String, Double)]] = {
      if (node.path("tainted").asBoolean(false)) None
      else if (sfName(node.path("sf").asText("")) != sfName(sfDir)) None
      // floors only compare like-for-like timing policies: records from
      // the count() era (no timing_action field) under-measured pure-
      // projection queries (see `materialize`) and would flag every
      // honest number as a phantom regression
      else if (node.path("timing_action").asText("") != "hash_rows") None
      else {
        val both = Seq(node.path("queries"), node.path("extras")).filter(_.isObject)
        val m = both.flatMap { n =>
          scala.jdk.CollectionConverters.IterableHasAsScala(n.properties()).asScala.iterator
            .filter(_.getValue.isNumber).map(e => qkey(e.getKey) -> e.getValue.asDouble())
        }
        if (m.nonEmpty) { used += 1; Some(m) } else None
      }
    }
    // Floor sources (r11 fix — the floor must be indestructible):
    //   BENCH_r*.json        driver round-close captures (record under "parsed")
    //   BENCH_LOCAL*.json    our own full-fidelity writes, now keyed by SF
    //                        (legacy un-suffixed file still read for migration)
    //   BENCH_FLOORS_*.json  the durable min-merged floor store, written ONLY
    //                        by untainted runs (writeFloors below) — a tainted
    //                        run can no longer destroy the only usable floor,
    //                        which is exactly what killed round 11's guard.
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json") ||
        f.getName.matches("BENCH_LOCAL.*\\.json") || f.getName.matches("BENCH_FLOORS_.*\\.json") ||
        f.getName == "BENCH_SF1.json") // the committed sf1 artifact doubles as the sf1 floor seed
    val perRound = files.flatMap { f =>
      try {
        val root = mapper.readTree(f)
        floorsOf(if (f.getName.matches("BENCH_r\\d+\\.json")) root.path("parsed") else root)
      } catch { case _: Throwable => None }
    }.flatten
    locally { val _ = r02Baseline } // retained for provenance; not merged (count()-era policy)
    val merged = perRound.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    (s"min_untainted_rounds(n=$used,sf=${sfName(sfDir)})", merged)
  }

  /** The scale-factor identity of a testdata dir: its basename (the
    * driver's dirs are named sf0.01/sf0.1/...; ad-hoc dirs like
    * /tmp/graft_sf1 compare by full basename, never colliding with them).
    */
  private def sfName(dir: String): String =
    dir.stripSuffix("/").split('/').lastOption.getOrElse(dir)

  /** Busy CPU ticks (user+nice+system, all cpus) from /proc/stat. */
  private def sysBusyTicks(): Option[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      Some(f(0) + f(1) + f(2))
    } catch { case _: Throwable => None }

  /** This JVM's utime+stime ticks from /proc/self/stat (fields 14/15;
    * indexed past the parenthesized comm, which may contain spaces).
    */
  private def selfTicks(): Option[Long] =
    try {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      val after = s.substring(s.lastIndexOf(')') + 2).split(" ")
      Some(after(11).toLong + after(12).toLong)
    } catch { case _: Throwable => None }

  private def loadAvg1m(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Bounded wait-for-quiesce (r11 fix): the round-close record was stamped
    * tainted because another workload was still draining when the bench
    * started (1-min load 5.38). Before sampling the taint telemetry, sleep
    * while the 1-min loadavg says >1.5 runnable external tasks, capped at
    * 5 minutes so a genuinely-shared machine still produces a (tainted)
    * record instead of hanging. Returns seconds waited, reported in the
    * record as `quiesce_wait_sec`.
    */
  private def waitForQuiesce(threshold: Double = 1.5, capSec: Int = 300): Double = {
    val t0 = System.nanoTime()
    while (loadAvg1m() > threshold && (System.nanoTime() - t0) / 1e9 < capSec)
      Thread.sleep(10000)
    (System.nanoTime() - t0) / 1e9
  }

  /** Durable floor store: min-merge this run's per-query times into
    * BENCH_FLOORS_<sf>.json. Called ONLY for untainted runs — the floors
    * file monotonically ratchets downward and is immune to both contention
    * (tainted runs never write it) and cross-SF clobbering (one file per
    * SF). loadBaseline reads it alongside the round records.
    */
  private def writeFloors(sfDir: String, times: Map[String, Double], num: Double => String): Unit = {
    val file = Paths.get(s"BENCH_FLOORS_${sfName(sfDir)}.json")
    val existing: Map[String, Double] =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile).path("queries")
        scala.jdk.CollectionConverters.IterableHasAsScala(node.properties()).asScala.iterator
          .filter(_.getValue.isNumber).map(e => e.getKey -> e.getValue.asDouble()).toMap
      } catch { case _: Throwable => Map.empty }
    val merged = (existing.keySet ++ times.keySet).toSeq.sorted.map { k =>
      k -> (existing.get(k).toSeq ++ times.get(k).toSeq).min
    }
    val qs = merged.map { case (k, t) => graft.core.Json.str(k) + ":" + num(t) }.mkString("{", ",", "}")
    Files.writeString(file,
      s"""{"sf":${graft.core.Json.str(sfDir)},"tainted":false,"timing_action":"hash_rows","queries":$qs,"note":"min-merged floor store; written only by untainted Bench runs"}""" + "\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.local(cpus, "graft-bench")

    val headline: Seq[String] = Seq(
      "q01_pricing_summary", "q03_join_revenue", "q04_semi_join",
      "q07_window_latest", "q11_scd2_upsert", "q12_state_delta",
      "q13_explode_tokens", "q21_dq_suite",
      "q30_dedup_exact", "q32_text_quality", "q36_jaccard_pairs",
      "q37_minhash_lsh", "q40_ann_bruteforce", "q41_ann_lsh",
      "q43_event_windows", "q24_sessions", "q49_asof_join", "q50_multi_join",
      // round-2 formulations under watch: LSH-blocked embedding near-dup,
      // quantized-idf TF-IDF (single job), two-level exact percentile cut,
      // fused-codegen SimHash sketching
      "q47_embedding_neardup", "q64_tfidf", "q68_quality_filter",
      "q39_simhash_portable",
      // round-3 formulations under watch: trained-IVF ANN (k-means in the
      // query path), partitioned SCD-2 warehouse load, cell-blocked
      // semantic dedup, mixture sampling, iterative dup-group components
      "q85_ann_ivf_trained", "q80_scd2_partitioned",
      "q86_semantic_dedup", "q87_mixture_sample", "q88_dup_groups"
    )

    // Round-6/7 additions, timed but reported SEPARATELY (`extras`) and
    // excluded from `total`: the headline set is held fixed since round 3
    // so round-over-round totals stay like-for-like.
    val extras: Seq[String] =
      Seq("q89_gopher_gates", "q90_ann_ivf_sampled", "q91_image_decode", "q92_hot_spans",
        "q93_url_screen", "q94_audio_decode", "q95_video_meta", "q96_ann_sq8",
        "q97_corpus_pipeline", "q98_ann_ivf_sq8", "q99_bpe_tokens",
        // round-9/10 additions (VERDICT r9 "missing #2": eight oracle-green
        // operators had no timing record): perplexity filter, packing,
        // streaming dedup + interval join, BM25 + RRF hybrid, substring
        // dedup (+ its recipe-integrated q108), change feed
        "q100_lm_perplexity", "q101_seq_packing", "q102_stream_dedup",
        "q103_bm25_topk", "q104_stream_interval_join", "q105_substring_dedup",
        "q106_change_feed", "q107_hybrid_rrf", "q108_recipe_substring",
        "q109_bm25_batch", "q110_video_frames",
        "q111_stream_enrich", "q112_fuzzy_match", "q113_heavy_hitters",
        "q114_ann_pq", "q115_ann_ivf_pq",
        // round-10 batch 2: graph/time-series/view-maintenance operators
        "q116_pagerank", "q117_gapfill", "q118_funnel",
        "q119_incremental_mv", "q120_range_join", "q121_leakage_split",
        "q122_retention", "q123_cube", "q124_moving_agg",
        "q125_hll_sketch", "q126_neardup_split", "q127_pit_lookup",
        // round-10 batch 3: perceptual-hash image dedup and friends
        "q128_image_neardup", "q129_bloom_decontam", "q130_bm25_index",
        "q131_topk_per_group", "q132_collocations", "q133_sampled_quantiles",
        "q134_canonical_dedup", "q135_ppjoin",
        "q136_orc_roundtrip", "q137_embedding_centroids", "q138_entity_resolution",
        "q139_bpe_training", "q140_gdpr_sweep", "q141_version_drift",
        "q142_repetition", "q143_quality_classifier", "q144_zone_map",
        "q145_gdpr_deferred", "q146_incremental_lsh", "q147_domain_cap",
        "q148_cdc_apply", "q149_containment", "q150_decayed_value",
        "q151_stream_decay", "q152_triangles", "q153_golden_record",
        "q154_widened_read", "q155_replica_audit", "q156_label_screen",
        "q157_dimension_stats", "q158_histogram", "q159_balanced_sample",
        "q160_shard_manifest",
        // round-11: persisted IVF+PQ probe (timed probe-only, build in setup)
        "q161_pq_index_probe",
        // round-12: streaming LSH dedup, residual-encoded IVF+PQ (IVFADC)
        "q162_stream_lsh_dedup", "q163_ann_ivf_pq_residual",
        "q164_stream_vector_index",
        // round-12: persisted sketch rollup (timed as range probes over the
        // stored sketches, the two day-range commits in setup), streaming
        // CDC apply (timed as bootstrap + streamed consumer against the
        // prebuilt q106 warehouse)
        "q165_sketch_rollup", "q166_stream_cdc_apply",
        // round-12: distributed fixed-point GD training (timed whole —
        // training IS the operation), cross-corpus LSH decontamination
        "q167_classifier_training", "q168_crosscorpus_lsh",
        // round-12: stream-maintained sketch rollup (timed whole — the
        // 3-batch merge-on-write build IS the operation; serve cost is
        // q165's)
        "q169_stream_sketch_mv",
        // round-12: mixture upsampling (zero-shuffle projection), histogram
        // rollup (range probes over prebuilt partials, build in setup),
        // incremental join-MV (bootstrap+feeds+maintain per run)
        "q170_mixture_upsample", "q171_histogram_rollup", "q172_join_mv",
        // round-12: retention sweep (commit+sweep+read per run — the sweep
        // IS the operation), dataset card (one aggregation pass)
        "q173_retention_sweep", "q174_dataset_card",
        // round-12: WARC ingest (fixture encode + two-layer parse per run),
        // CCNet line dedup (three hashed-key exchanges), Avro roundtrip
        // (container write + read + aggregate per run — I/O IS the op)
        "q175_warc_ingest", "q176_line_dedup", "q177_avro_roundtrip",
        // round-12: HTML extraction (pure codegen regexp chains — the
        // crawl→text and crawl→link-graph steps)
        "q178_html_text", "q179_html_links",
        // round-12: RNG-free epoch shuffle (one exchange + shard-local
        // sort), crawl→corpus end-to-end recipe (WARC encode+parse+extract)
        "q180_epoch_shuffle", "q181_crawl_corpus",
        // round-12: streaming WARC ingest (5 forced micro-batches over the
        // landed fixture), T5 span corruption (explode+window+reassembly)
        "q182_stream_warc", "q183_span_corruption",
        // round-12: packed-sequence materialization (two text moves),
        // importance sampling (zero-shuffle scan filter over the scorer)
        "q184_packed_sequences", "q185_importance_sample",
        // round-12: k-anonymity publish (O(levels) group-count passes),
        // JSONL quarantine ingest (write + native PERMISSIVE scan), label
        // aggregation (one count agg + tiny-frame window; audit adds the
        // votes-to-consensus join)
        "q186_k_anonymity", "q187_jsonl_ingest", "q188_label_vote",
        "q189_annotator_audit",
        // round-12: distribution drift (two histogram passes, O(bins) out),
        // XML StAX ingest (encode + parse per run, zero shuffles)
        "q190_distribution_drift", "q191_xml_ingest",
        // round-12: bloom-indexed point lookup (commit+build+probe per run)
        "q192_bloom_index",
        // round-14: charset-aware WARC decode (fixture encode + charset
        // resolution + decode per run), Dawid-Skene hard-EM refinement
        // (two M/E rounds over the 5-annotator vote table)
        "q193_warc_charset", "q194_dawid_skene",
        // round-14: Delta column-mapping round trip (commit + metadata
        // export + import read per run — interop cost IS the op)
        "q195_delta_roundtrip",
        // round-15: IVF-celled kNN label screen (train + celled probe per
        // run — the corpus-scale twin of q156, timed whole at nprobe=all),
        // PQ ADC shortlist -> exact re-rank (train + encode + two-stage
        // serve per run — the production recipe over the code layouts)
        "q196_label_screen_ivf", "q197_ann_pq_rerank",
        // round-15: cross-dimension covariance (posexplode + reused-exchange
        // self-join + partial-agg to 2080 rows — the PCA/whitening prep)
        "q198_covariance",
        // round-16: the same cells via the per-row outer-product fold —
        // zero row-proportional exchange (q198's escape hatch, A/B-able
        // against it in every bench artifact)
        "q199_covariance_fold")

    // SPARK_GRAFT_BENCH_ONLY (regex over query names): run only the
    // matching subset — for at-scale records (BENCH_SF3) where the full
    // ~190-query suite would take hours on queries whose scale story is
    // already told elsewhere. The artifact carries the filter in `subset`
    // so a partial record can never read as a full-suite run; unset (the
    // driver's call) = full suite, behavior unchanged. One-time setup
    // builders are skipped when their probe query is filtered out.
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    def keep(n: String): Boolean = benchOnly.forall(_.findFirstIn(n).isDefined)

    // Load telemetry (VERDICT r08 "what's wrong #1"): three round-close
    // records in a row were contention-polluted and their regressions_x
    // flags phantom. Sample 1-min loadavg before any work (external load —
    // our own hasn't started) and busy-CPU ticks system-wide vs this JVM
    // across the whole run; the record is stamped tainted when either says
    // another workload shared the machine, and tainted records are excluded
    // from the baseline floor (see loadBaseline).
    val quiesceWait = waitForQuiesce()
    val loadStart = loadAvg1m()
    val sysT0 = sysBusyTicks(); val selfT0 = selfTicks()

    // One-time setup OUTSIDE timing: build the q98 IVF+SQ8 serving layout
    // once so the timed op is the probe — the per-query serving cost —
    // not the index build (VERDICT r08 "what's wrong #2": build noise was
    // masking probe-path regressions). The build cost is still reported,
    // in `setup_sec`.
    val q98SetupT0 = System.nanoTime()
    val q98Built =
      if (!keep("q98_ann_ivf_sq8")) None else try {
        val (idx, cents, qv) = Queries.q98BuildIndex(spark, sfDir)
        Some((idx, cents, qv, (System.nanoTime() - q98SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q106 warehouse build, same rationale: the timed op is the
    // change-feed read (the per-invocation serving cost), not the two
    // SCD-2 commit cycles that produce the versions (q80 already times
    // those). Build cost lands in setup_sec.
    val q106SetupT0 = System.nanoTime()
    val q106Built =
      if (!Seq("q106_change_feed", "q119_incremental_mv", "q141_version_drift", "q148_cdc_apply", "q166_stream_cdc_apply", "q172_join_mv").exists(keep)) None else try {
        val (path, v1, v2) = Queries.q106Build(spark, sfDir)
        Some((path, v1, v2, (System.nanoTime() - q106SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q127 PIT-warehouse build (record_from-stamped batches);
    // the timed op is the probe join, the per-lookup serving cost.
    val q127SetupT0 = System.nanoTime()
    val q127Built =
      if (!keep("q127_pit_lookup")) None else try {
        val (path, _, v2) = Queries.q127Build(spark, sfDir)
        Some((path, v2, (System.nanoTime() - q127SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q130 inverted-index build; the timed op is the bucket-pruned
    // probe — the per-query serving cost, exactly q98's adjudication.
    val q130SetupT0 = System.nanoTime()
    val q130Built =
      if (!keep("q130_bm25_index")) None else try Some((Queries.q130Build(spark, sfDir), (System.nanoTime() - q130SetupT0) / 1e9))
      catch { case _: Throwable => None }
    // One-time q148 replica bootstrap (on q106's prebuilt source); the
    // timed op is feed + idempotent apply + active read — the per-batch
    // replication cost, not the two warehouse builds it sat on before
    // (which timed 13.9 s of q80-shaped commit I/O per run).
    val q148SetupT0 = System.nanoTime()
    val q148Built = (if (keep("q148_cdc_apply")) q106Built else None).flatMap { case (path, v1, _, _) =>
      try {
        // fast scratch medium, mirroring Queries.scratchRoot (round-18;
        // round-19 adds the same 8 GiB tmpfs headroom gate — ADVICE r18):
        // the replica is per-run ephemeral
        val repBase = sys.env.get("SPARK_GRAFT_SCRATCH").orElse {
          val shm = java.nio.file.Paths.get("/dev/shm")
          if (java.nio.file.Files.isWritable(shm) && shm.toFile.getUsableSpace >= (8L << 30)) Some("/dev/shm")
          else None
        }
        val rep = (repBase match {
          case Some(b) => java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(b), "bench-q148")
          case None => java.nio.file.Files.createTempDirectory("bench-q148")
        }).toString + "/replica"
        graft.sources.VersionedTable.commitDelta(
          spark, rep, graft.sources.VersionedTable.read(spark, path, Some(v1)), "key_bucket")
        Some((rep, (System.nanoTime() - q148SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    }
    // One-time q140/q145 sweeps (VERDICT r10 "what's wrong #3": their 5-9 s
    // bench numbers were ~75% in-query warehouse rebuild measured for the
    // fourth time): each gets its OWN prebuilt warehouse (the sweeps mutate
    // it, so the shared q106 warehouse can't be reused), the delete runs
    // once in setup, and the timed op is the serving read — the post-sweep
    // active read (q140) / the DV merge-on-read path (q145).
    val q140SetupT0 = System.nanoTime()
    val q140Built =
      if (!keep("q140_gdpr_sweep")) None else try Some((Queries.q140Build(spark, sfDir), (System.nanoTime() - q140SetupT0) / 1e9))
      catch { case _: Throwable => None }
    val q145SetupT0 = System.nanoTime()
    val q145Built =
      if (!keep("q145_gdpr_deferred")) None else try Some((Queries.q145Build(spark, sfDir), (System.nanoTime() - q145SetupT0) / 1e9))
      catch { case _: Throwable => None }
    // One-time q161 PQ index build (train + encode + commit); the timed op
    // is the ADC probe over stored codes — the per-query serving cost.
    val q161SetupT0 = System.nanoTime()
    val q161Built =
      if (!keep("q161_pq_index_probe")) None else try {
        val (idx, coarse, cbs, qv) = Queries.q161BuildIndex(spark, sfDir)
        Some((idx, coarse, cbs, qv, (System.nanoTime() - q161SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q163 residual-PQ index build, same adjudication as q161:
    // the timed op is the per-cell residual-ADC probe over stored codes.
    val q163SetupT0 = System.nanoTime()
    val q163Built =
      if (!keep("q163_ann_ivf_pq_residual")) None else try {
        val (idx, coarse, cbs, qv) = Queries.q163BuildIndex(spark, sfDir)
        Some((idx, coarse, cbs, qv, (System.nanoTime() - q163SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q182 fixture landing (round-19): gzip-encoding the corpus
    // into ~corpus/5 .warc.gz files is input generation, not the streaming
    // operator — the timed op is the multi-batch ingest over the landed
    // directory (fresh checkpoint per run), same adjudication as q130.
    val q182SetupT0 = System.nanoTime()
    val q182Built =
      if (!keep("q182_stream_warc")) None else try Some((Queries.q182Build(spark, sfDir), (System.nanoTime() - q182SetupT0) / 1e9))
      catch { case _: Throwable => None }
    // One-time q165 sketch-rollup build (two day-range commits); the timed
    // op is the range serve from stored sketch bytes — the recurring cost.
    val q165SetupT0 = System.nanoTime()
    val q165Built =
      if (!keep("q165_sketch_rollup")) None else try {
        val path = Queries.q165Build(spark, sfDir)
        Some((path, (System.nanoTime() - q165SetupT0) / 1e9))
      } catch { case _: Throwable => None }
    // One-time q171 histogram-partial build; the timed op is the exact
    // range merge over stored partials.
    val q171SetupT0 = System.nanoTime()
    val q171Built =
      if (!keep("q171_histogram_rollup")) None else try {
        val path = Queries.q171Build(spark, sfDir)
        Some((path, (System.nanoTime() - q171SetupT0) / 1e9))
      } catch { case _: Throwable => None }

    // benched ops: SparkEntry.queries, with q98 overridden to probe-only
    // against the prebuilt index and q106 to feed-only against the
    // prebuilt warehouse (oracle semantics unchanged — Verify still runs
    // the full build+probe / build+feed queries).
    val benchOp: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ q98Built.map { case (idx, cents, qv, _) =>
        "q98_ann_ivf_sq8" -> ((s: SparkSession, _: String) => Queries.q98Probe(s, idx, cents, qv))
      } ++ q106Built.map { case (path, v1, v2, _) =>
        "q106_change_feed" -> ((s: SparkSession, _: String) => Queries.q106Feed(s, path, v1, v2))
      } ++ q106Built.map { case (path, v1, v2, _) =>
        // q119 maintains its view from the SAME prebuilt warehouse — the
        // timed op is bootstrap+feed+fold (the per-commit consumer cost)
        "q119_incremental_mv" -> ((s: SparkSession, _: String) => Queries.q119Maintain(s, path, v1, v2))
      } ++ q127Built.map { case (path, v2, _) =>
        "q127_pit_lookup" -> ((s: SparkSession, d: String) => Queries.q127Probe(s, path, v2, d))
      } ++ q130Built.map { case (idx, _) =>
        "q130_bm25_index" -> ((s: SparkSession, _: String) => Queries.q130Probe(s, idx))
      } ++ (for ((path, v1, v2, _) <- q106Built; (rep, _) <- q148Built) yield
        "q148_cdc_apply" -> ((s: SparkSession, _: String) => Queries.q148Apply(s, path, v1, v2, rep))
      ) ++ q140Built.map { case (path, _) =>
        "q140_gdpr_sweep" -> ((s: SparkSession, _: String) => Queries.q140Read(s, path))
      } ++ q145Built.map { case (path, _) =>
        "q145_gdpr_deferred" -> ((s: SparkSession, _: String) => Queries.q145Read(s, path))
      } ++ q106Built.map { case (path, v1, v2, _) =>
        // q141 diffs versions of the SAME prebuilt warehouse — the timed
        // cost is two time-travel reads + the metric aggregation
        "q141_version_drift" -> ((s: SparkSession, _: String) => Queries.q141Drift(s, path, v1, v2))
      } ++ q161Built.map { case (idx, coarse, cbs, qv, _) =>
        "q161_pq_index_probe" -> ((s: SparkSession, _: String) => Queries.q161Probe(s, idx, coarse, cbs, qv))
      } ++ q163Built.map { case (idx, coarse, cbs, qv, _) =>
        "q163_ann_ivf_pq_residual" -> ((s: SparkSession, _: String) => Queries.q163Probe(s, idx, coarse, cbs, qv))
      } ++ q165Built.map { case (path, _) =>
        "q165_sketch_rollup" -> ((s: SparkSession, d: String) => Queries.q165Probe(s, path, d))
      } ++ q106Built.map { case (path, v1, v2, _) =>
        // q166 streams the SAME prebuilt warehouse's feed — the timed cost
        // is the consumer side (fresh replica bootstrap + 2-batch apply)
        "q166_stream_cdc_apply" -> ((s: SparkSession, _: String) => Queries.q166Stream(s, path, v1, v2))
      } ++ q171Built.map { case (path, _) =>
        "q171_histogram_rollup" -> ((s: SparkSession, _: String) => Queries.q171Probe(s, path))
      } ++ q182Built.map { case (landing, _) =>
        "q182_stream_warc" -> ((s: SparkSession, _: String) => Queries.q182Stream(s, landing))
      } ++ q106Built.map { case (path, v1, v2, _) =>
        // q172 maintains its view against the SAME prebuilt fact warehouse —
        // the timed cost is the consumer cycle (dim build + feeds + maintain)
        "q172_join_mv" -> ((s: SparkSession, d: String) => Queries.q172Maintain(s, path, v1, v2, d))
      }

    // warm-up: every headline query once at the target SF (see scaladoc).
    // Errors here are not swallowed silently — they will recur in the timed
    // loop and be reported there.
    (headline ++ extras).filter(keep).foreach { name =>
      try graft.core.Caching.scoped(materialize(benchOp(name)(spark, sfDir)))
      catch { case _: Throwable => }
    }

    // min of 3 timed runs per query: the machine the bench shares is noisy
    // (load spikes inflate single runs 30%+); the minimum is the best
    // contention-free estimate of steady-state cost and makes
    // round-over-round regression comparison meaningful.
    val runsPerQuery = 3
    // Measurement hygiene (round-19, VERDICT r18 #6): EVERY timed
    // repetition is its own cache scope, so each rep pays its own cache
    // population (the within-run reuse a cache legitimately buys stays
    // inside the rep; runs 2..3 never read run 1's leftover cache). The
    // clock stops before the scope releases its frames.
    def timeAll(names: Seq[String]): Seq[(String, Option[Double], Option[String])] =
      names.map { name =>
        val fn = benchOp(name)
        val results = (1 to runsPerQuery).map { _ =>
          try graft.core.Caching.scoped {
            val t0 = System.nanoTime()
            materialize(fn(spark, sfDir))
            Right((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        }
        val oks = results.collect { case Right(t) => t }
        if (oks.nonEmpty) (name, Some(oks.min), None)
        else (name, None, results.collectFirst { case Left(m) => m })
      }
    val timedFirst = timeAll(headline.filter(keep))

    // extras: min-of-3 like the headline set, but outside `total`; a
    // permanently-failing extra reports its first error message just like
    // a headline query (never a silent null)
    val extraTimedFirst = timeAll(extras.filter(keep))

    val (baselineName, baseline) = loadBaseline(sfDir)

    // In-run second look (VERDICT r9 "what's wrong #1"): three rounds in a
    // row a transient load spike put a phantom >2x entry in regressions_x
    // that a later quiet re-run refuted — so re-measure every flagged
    // query ONCE more (another min-of-3) before the record is written, and
    // keep the overall min. A real regression survives the re-measure; a
    // contention spike does not. Re-measured names are reported so the
    // record shows which numbers got the second look.
    def flaggedIn(ts: Seq[(String, Option[Double], Option[String])]): Seq[String] =
      ts.collect { case (k, Some(t), _) if baseline.get(qkey(k)).exists(b => b > 0 && t > 2 * b) => k }
    val remeasured = flaggedIn(timedFirst) ++ flaggedIn(extraTimedFirst)
    def secondLook(ts: Seq[(String, Option[Double], Option[String])]): Seq[(String, Option[Double], Option[String])] =
      ts.map {
        case (k, Some(t), e) if remeasured.contains(k) =>
          val again = timeAll(Seq(k)).head._2
          (k, Some(math.min(t, again.getOrElse(t))), e)
        case other => other
      }
    val timed = secondLook(timedFirst)
    val extraTimed = secondLook(extraTimedFirst)
    def jstr(s: String): String = graft.core.Json.str(s)
    // The driver recovers this line from a BOUNDED TAIL of the build log
    // (r04 lesson: a 12-entry verbose regression block pushed the line's
    // start past the window and the round parsed as null), so every field
    // is kept compact: 4-decimal times, regressions as now/baseline RATIOS.
    def num(d: Double): String = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

    val qs = timed.map { case (k, t, _) => jstr(k) + ":" + t.map(num).getOrElse("null") }
      .mkString("{", ",", "}")
    val errors = (timed ++ extraTimed)
      .collect { case (k, None, Some(m)) => jstr(k) + ":" + jstr(m.take(80)) }
      .mkString("{", ",", "}")
    val regressions = (timed ++ extraTimed).collect {
      case (k, Some(t), _) if baseline.get(qkey(k)).exists(b => b > 0 && t > 2 * b) =>
        jstr(k) + ":" + num(t / baseline(qkey(k)))
    }.mkString("{", ",", "}")
    val total = timed.flatMap(_._2).sum
    val nErr = timed.count(_._3.isDefined) + extraTimed.count(_._3.isDefined)

    val extraTimes = extraTimed
      .map { case (k, t, _) => jstr(k) + ":" + t.map(num).getOrElse("null") }
      .mkString("{", ",", "}")

    // Taint verdict: ANY external 1-min load at start (>1.5 runnable tasks
    // before our own work begins — r9's polluted record had 6.44 yet
    // passed the old 0.25*cpus gate), OR >30% of the busy CPU burned
    // machine-wide during the run not attributable to this JVM (r08's
    // pollution signature was ~50%; a quiet machine runs <0.1). Tick units
    // cancel in the share, so no HZ assumption is needed. Start-load
    // matters independently of the run-average share because a workload
    // dying during our warm-up skews the first timed queries while
    // averaging to ~0 over the whole run.
    val loadEnd = loadAvg1m()
    val extShare = for {
      s0 <- sysT0; s1 <- sysBusyTicks(); p0 <- selfT0; p1 <- selfTicks()
      sysD = s1 - s0 if sysD > 0
    } yield math.max(0.0, (sysD - (p1 - p0)).toDouble / sysD)
    val tainted = loadStart > 1.5 || extShare.exists(_ > 0.30)
    val loadJson =
      s"""{"start":${num(loadStart)},"end":${num(loadEnd)},"ext_cpu_share":${extShare.map(num).getOrElse("null")},"quiesce_wait_sec":${num(quiesceWait)}}"""
    val setupPairs: Seq[(String, Double)] =
      q98Built.map { case (_, _, _, t) => "q98_index_build" -> t }.toSeq ++
        q106Built.map { case (_, _, _, t) => "q106_warehouse_build" -> t }.toSeq ++
        q127Built.map { case (_, _, t) => "q127_warehouse_build" -> t }.toSeq ++
        q130Built.map { case (_, t) => "q130_index_build" -> t }.toSeq ++
        q148Built.map { case (_, t) => "q148_replica_bootstrap" -> t }.toSeq ++
        q140Built.map { case (_, t) => "q140_sweep_build" -> t }.toSeq ++
        q145Built.map { case (_, t) => "q145_dv_build" -> t }.toSeq ++
        q161Built.map { case (_, _, _, _, t) => "q161_index_build" -> t }.toSeq ++
        q163Built.map { case (_, _, _, _, t) => "q163_index_build" -> t }.toSeq ++
        q165Built.map { case (_, t) => "q165_rollup_build" -> t }.toSeq ++
        q171Built.map { case (_, t) => "q171_rollup_build" -> t }.toSeq ++
        q182Built.map { case (_, t) => "q182_fixture_land" -> t }.toSeq
    val setupJson = setupPairs.map { case (k, t) => s"${jstr(k)}:${num(t)}" }.mkString("{", ",", "}")

    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":${jstr(sfDir)},"subset":${benchOnly.map(r => jstr(r.regex)).getOrElse("null")},""" +
        s""""errors":$errors,"n_errors":$nErr,"regressions_x":$regressions,""" +
        s""""remeasured":${remeasured.distinct.map(jstr).mkString("[", ",", "]")},"extras":$extraTimes,""" +
        s""""baseline":${jstr(baselineName)},"load":$loadJson,"tainted":$tainted,"setup_sec":$setupJson,""" +
        s""""runs_per_query":$runsPerQuery,"aggregation":"min","timing_action":"hash_rows",""" +
        s""""cache_policy":"warm JVM, one Caching scope per rep (caches released at rep end); min of $runsPerQuery runs per query; action = xxhash64 over every output column (full materialization, count() pruned pure projections); q98/q130/q161/q163 timed as stored-index probes, q106/q119/q127/q141/q148 against prebuilt warehouses, q140/q145 as post-sweep serving reads, q165/q171 as range probes over prebuilt rollups, q182 as the stream over a prelanded fixture dir (builds in setup_sec)"}"""
    // Full-fidelity record → BENCH_LOCAL_<sf>.json, keyed by SF so runs at
    // different scale factors never clobber each other (r11: a tainted
    // sf0.001 run overwrote the only untainted sf0.1 record and disarmed
    // the regression floor). The legacy un-suffixed BENCH_LOCAL.json is
    // never written anymore — only read, for migration.
    Files.writeString(Paths.get(s"BENCH_LOCAL_${sfName(sfDir)}.json"), line + "\n")
    // Durable floor ratchet: only untainted runs may update the floor store.
    if (!tainted)
      writeFloors(sfDir,
        (timed ++ extraTimed).collect { case (k, Some(t), _) => qkey(k) -> t }.toMap, num)

    // Driver-facing stdout line: the driver recovers it from a BOUNDED
    // 2000-char TAIL of the build log (r10: the full-name line outgrew the
    // window and the round's record parsed as null, disarming the
    // regression guard). Emit the same record with qNNN-prefix keys,
    // 2-decimal times, and a short cache tag — loadBaseline floors by
    // prefix, so driver captures and local records min-merge cleanly.
    def num2(d: Double): String = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // the per-query maps are capped to the SLOWEST entries (r14: the full
    // 190-query maps outgrew the 2000-char window and the round artifact
    // parsed as null) — the slow tail is what regression reading needs;
    // n_/sum_ companions carry the full population, and the uncapped
    // record is durable in BENCH_LOCAL_<sf>.json
    def shortMap(ts: Seq[(String, Option[Double], Option[String])], top: Int): String =
      ts.collect { case (k, Some(t), _) => (qkey(k), t) }
        .sortBy { case (k, t) => (-t, k) }
        .take(top)
        .map { case (k, t) => jstr(k) + ":" + num2(t) }
        .mkString("{", ",", "}")
    def sumOf(ts: Seq[(String, Option[Double], Option[String])]): Double =
      ts.collect { case (_, Some(t), _) => t }.sum
    // variable-size maps are CAPPED so a pathological run can't push the
    // line past the driver's window (n_errors carries the true count; the
    // full record in BENCH_LOCAL.json is uncapped)
    val shortErrors = (timed ++ extraTimed)
      .collect { case (k, None, Some(m)) => jstr(qkey(k)) + ":" + jstr(m.take(40)) }
      .take(3)
      .mkString("{", ",", "}")
    val shortRegr = (timed ++ extraTimed).collect {
      case (k, Some(t), _) if baseline.get(qkey(k)).exists(b => b > 0 && t > 2 * b) =>
        (t / baseline(qkey(k)), qkey(k))
    }.sortBy(-_._1).take(8).map { case (x, k) => jstr(k) + ":" + num2(x) }.mkString("{", ",", "}")
    val shortSetup = setupPairs.sortBy { case (k, t) => (-t, k) }.take(8)
      .map { case (k, t) => s"${jstr(qkey(k))}:${num2(t)}" }.mkString("{", ",", "}")
    def shortLineAt(qTop: Int, xTop: Int): String =
      s"""{"metric":"total","value":${num2(total)},"unit":"sec","queries":${shortMap(timed, qTop)},"sf":${jstr(sfDir)},""" +
        s""""n_queries":${timed.size},"sum_queries":${num2(sumOf(timed))},""" +
        s""""errors":$shortErrors,"n_errors":$nErr,"regressions_x":$shortRegr,""" +
        s""""remeasured":${remeasured.distinct.map(k => jstr(qkey(k))).take(12).mkString("[", ",", "]")},""" +
        s""""extras":${shortMap(extraTimed, xTop)},"n_extras":${extraTimed.size},"sum_extras":${num2(sumOf(extraTimed))},""" +
        s""""baseline":${jstr(baselineName)},"load":$loadJson,""" +
        s""""tainted":$tainted,"setup_sec":$shortSetup,"runs_per_query":$runsPerQuery,""" +
        s""""aggregation":"min","timing_action":"hash_rows","key_style":"qnum",""" +
        s""""cache_policy":"warm JVM scoped-cache-per-rep min-of-$runsPerQuery, hash_rows; maps cap to slowest (sums/counts uncapped); full record in BENCH_LOCAL_<sf>.json"}"""
    // never fail a finished run over line length: shrink the caps until
    // the record (plus sbt's trailing "[success]" line) fits the window
    val shortLine = Seq((30, 15), (15, 8), (6, 3))
      .map { case (q, x) => shortLineAt(q, x) }
      .find(_.length <= 1850)
      .getOrElse(shortLineAt(0, 0))
    println(shortLine)
    spark.stop()
  }
}
