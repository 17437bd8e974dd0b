package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties claimed in SCALE.md
  * (pushdown reaching the scan, broadcasts on dimension sides, partial
  * aggregation before exchanges) asserted on the optimized plans so a future
  * edit can't silently regress them.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicates and projection pushed into the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("l_shipdate#") && p.contains(">= 1997-01-01"))
    // pruned read schema: only the 4 projected + filter columns
    assert(!p.contains("l_returnflag"), "column pruning regressed: scan reads unprojected columns")
  }

  test("q03: dimension side broadcasts, aggregation is partial-then-final") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation missing")
  }

  test("q04: semi join stays broadcast with pre-aggregated key set") {
    val p = plan("q04_semi_join")
    assert(p.contains("LeftSemi"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q12: snapshot join is broadcast at this scale") {
    val p = plan("q12_state_delta")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(p.contains("LeftOuter"))
  }

  test("q01: scan prunes to the aggregated columns only") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scans.contains("l_orderkey"), "scan reads columns the aggregation never touches")
  }

  test("q78: benchmark postings broadcast — no corpus-side shuffle for the overlap join") {
    val p = plan("q78_decontamination")
    assert(p.contains("BroadcastHashJoin"), "decontamination join must broadcast the benchmark side")
  }

  test("q64: corpus count enters the plan as a broadcast, not a driver-side action") {
    val p = plan("q64_tfidf")
    assert(
      p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row total should cross-join via broadcast"
    )
  }

  test("q72/q85: IVF probe is one scan with a codegen filter into a top-k — no global sort") {
    for (q <- Seq("q72_ann_ivf", "q85_ann_ivf_trained")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: top-k must be per-partition heaps (TakeOrderedAndProject), not sort+limit")
      assert(!p.contains("rangepartitioning"), s"$q: a global range-partitioned sort leaked into the probe")
    }
  }

  test("q68: no single-partition sort over the corpus (global windows only above aggregates)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = SparkEntry.queries("q68_quality_filter")(spark, dir)
    // sparkPlan (pre-AQE): AdaptiveSparkPlanExec hides its subtree from collect
    val globalWindows = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.nonEmpty, "expected the distinct-value cumulative window to exist")
    globalWindows.foreach { w =>
      val aggBelow = w.child.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      assert(
        aggBelow.nonEmpty,
        "a global (single-partition) window runs directly over a corpus-sized input — " +
          "the round-1 scale-killer this formulation removed"
      )
      // BOUNDED by construction, not by accident: the aggregate feeding the
      // global window must group on the e4-QUANTIZED score (LongType,
      // ≤10001 distinct values) — grouping on the raw double ratio would
      // make this relation corpus-sized for a continuous-valued score
      aggBelow.foreach { a =>
        val groupTypes = a.groupingExpressions.map(_.dataType)
        assert(
          groupTypes.forall(_ == org.apache.spark.sql.types.LongType),
          s"global-window input aggregate groups on $groupTypes — expected only the quantized LongType score"
        )
      }
    }
    // and the corpus-sized window is partitioned (by ratio), never global
    val partitioned = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty => w
    }
    assert(partitioned.nonEmpty, "expected the per-ratio tie-splitting window")
  }

  test("q89: Gopher gates — scalar gates per row, mode-bigram rejoin stays broadcast") {
    val p = plan("q89_gopher_gates")
    // the only join is the per-doc mode-bigram result joined back to the
    // doc row: it must be broadcast, never a corpus-wide sort-merge
    assert(p.contains("BroadcastHashJoin"), "mode-bigram rejoin should broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side sort-merge join crept into q89")
    // scan pruned to exactly the two columns the gates need
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "q89 scan must read only doc_id+text")
  }

  test("q92: hot-span mining is postings + ONE shuffle (partial-then-final agg), no count-distinct expansion") {
    val df = SparkEntry.queries("q92_hot_spans")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("ShuffleExchange|Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle (the span aggregation), got:\n$p")
    // sort-based aggregate (the min(span) string buffer rules out
    // HashAggregateExec) but still partial-then-final: the shuffle carries
    // one pre-aggregated row per distinct span per map partition
    assert("partial_count".r.findAllIn(p).nonEmpty, "partial aggregation missing")
    // count(*) formulation: the distinct-doc df must NOT appear as a
    // count(distinct) expand (the explode already deduplicated per doc)
    assert(!p.contains("Expand"), "count-distinct Expand crept into the hot-span plan")
    // the aggregation / shuffle key must be the 60-bit span hash, not the
    // span string (fixed-width long key; string rides as min-by payload)
    assert(p.toLowerCase.contains("md5prefix60"),
      s"expected the Md5Prefix60 span hash as the aggregation key, got:\n$p")
  }

  test("q96: SQ8 scoring is one scan + TakeOrdered — quantize/pack/score all inside the scan stage") {
    val df = SparkEntry.queries("q96_ann_sq8")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrderedAndProject, not a global sort")
    assert(!p.contains("Exchange hashpartitioning"), s"SQ8 scoring must not shuffle, got:\n$p")
    assert(p.toLowerCase.contains("dotproductsq8"), "scoring must use the binary-codes kernel")
  }

  test("q97: the six-stage corpus pipeline plans as THREE shuffles + broadcast semi/anti joins") {
    val df = SparkEntry.queries("q97_corpus_pipeline")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      s"quality gate, sampling and chunking must stay narrow — only the fingerprint and simhash " +
        s"dedup aggs and the (overlap-sized) contamination pair count may shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "the keeper semi joins, benchmark postings and contaminated-id anti join should broadcast at fixture scale")
    assert(!p.contains("Expand"), "no count-distinct expansion anywhere in the pipeline")
  }

  test("q93: url screen is a pure row-wise projection — no shuffle, scan pruned to doc_id+source") {
    val p = plan("q93_url_screen")
    assert(!p.contains("Exchange"), "regexp decomposition must not shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"q93 scan must read only doc_id+source, got:\n$p")
  }

  test("q109 batch BM25: term filter and query fan-out are broadcast joins; top-k window partitions by query") {
    val p = plan("q109_bm25_batch")
    assert(p.contains("BroadcastHashJoin"), "term-set semi join and qterms fan-out must broadcast")
    assert(!p.contains("SortMergeJoin"), s"no corpus-vs-corpus shuffle join belongs in batch BM25:\n$p")
    // the rank window must be keyed by query_id (per-query top-k), never a
    // global single-partition window — and Spark's WindowGroupLimit should
    // prune each query's group to k rows BEFORE the full window evaluates
    assert(p.contains("WindowGroupLimit [query_id"), s"per-query group-limit pushdown missing:\n$p")
  }

  test("q112 fuzzy match: dictionary compaction aggregates before the block join; banded levenshtein in plan") {
    val p = plan("q112_fuzzy_match")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "distinct-name compaction must be partial-then-final")
    assert(p.toLowerCase.contains("levenshtein"), "edit-distance verification missing from plan")
  }

  test("q105 phase 1: no corpus-sized gram string feeds the first shuffle (fused digest only)") {
    import spark.implicits._
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", graft.operators.TextAnalysis.tokens($"text").as("ws"))
    val p = graft.operators.Dedup.substringCandidates(toks, 8)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("shinglehash60"),
      s"phase 1 must hash windows with the fused ShingleHash60 digest, got:\n$p")
    assert(!p.contains("array_join") && !p.contains("concat_ws"),
      s"phase 1 must not materialize gram strings before the duplicate-hash shuffle, got:\n$p")
  }

  test("q120 range join: bin blocking plans as a hash/merge equi-join, never a nested loop") {
    val p = plan("q120_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range predicate must not fall back to a nested-loop plan:\n$p")
    assert(p.contains("Join"), "the bin equi-join vanished from the plan")
  }

  test("q123 cube: grouping sets expand in one pass — a single Expand, partial-then-final agg") {
    val p = plan("q123_cube")
    assert("Expand".r.findAllIn(p).size == 1, "CUBE must plan as one Expand, not a union of scans")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation missing under the cube")
  }

  test("q117/q124: every window partitions by a key — no single-partition corpus window") {
    for (name <- Seq("q117_gapfill", "q124_moving_agg")) {
      val p = plan(name)
      val unpartitioned = "Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p)
      assert(unpartitioned.isEmpty, s"$name has an unpartitioned window:\n$p")
    }
  }

  test("q136: predicate pushes into the ORC scan; partial-then-final aggregation") {
    import graft.sources.IO
    val out = java.nio.file.Files.createTempDirectory("graft-orcplan").toString + "/orders"
    IO.writeOrc(IO.table(spark, dir, "orders"), out)
    val p = Queries.q136Agg(IO.readOrc(spark, out)).queryExecution.executedPlan.toString
    assert(p.contains("Format: orc") || p.toLowerCase.contains("orc"), s"not an ORC scan:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderpriority"),
      s"priority predicate did not reach the ORC scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation missing")
    // column pruning: the scan must not read unprojected wide columns
    assert(!p.contains("o_comment"), "ORC scan reads unprojected columns")
  }

  test("q142/q143: per-row corpus screens are shuffle-free single scans") {
    Seq("q142_repetition", "q143_quality_classifier").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: per-row screen must not shuffle:\n$p")
      assert(!p.contains("Sort "), s"$q: per-row screen must not sort")
    }
  }

  test("q146: incremental LSH probes the postings with the BATCH side broadcast") {
    // inspect the PRE-checkpoint probe plan (the public entry point cuts
    // lineage before returning, hiding the join strategy)
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft-lshplan").toString + "/index"
    val docs = graft.sources.IO.table(spark, dir, "documents")
    Dedup.lshIndexBuild(spark, idx, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    val newSig = Dedup.sigTable(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 16)
    val p = Dedup.lshProbePairs(spark, idx, newSig, 8, 2, 0.5).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"probe bucket set must broadcast against the index:\n$p")
  }

  test("q144: zone-map scan opens only intersecting partitions before the residual filter") {
    import graft.sources.VersionedTable
    val path = java.nio.file.Files.createTempDirectory("graft-zmplan").toString + "/t"
    val orders = graft.sources.IO.table(spark, dir, "orders")
      .selectExpr("CAST(o_orderkey AS LONG) k", "CAST(o_custkey AS LONG) ck",
        "concat('r', CAST(CAST(o_custkey / 25 AS LONG) AS STRING)) p")
    VersionedTable.commitDelta(spark, path, orders, "p", statsCols = Seq("ck"))
    val (scan, skip) = VersionedTable.zonePrunePlan(spark, path, "ck", 30L, 60L)
    assert(skip.nonEmpty && scan.size < scan.size + skip.size, "zone maps must eliminate partitions")
    val p = VersionedTable.readZonePruned(spark, path, "ck", 30L, 60L).queryExecution.executedPlan.toString
    // the plan's file index carries only the scanned partition dirs
    skip.foreach(s => assert(!p.contains(s"p=$s]") && !p.contains(s"p=$s,"), s"skipped partition p=$s leaked into the scan"))
  }

  test("q155: replica audit reduces map-side — partial-then-final aggregate, no row-level join between replicas") {
    val df = SparkEntry.queries("q155_replica_audit")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 4, "per-side partial aggregation missing")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")) // fingerprint rows meet here
  }

  test("q156: probe batch broadcasts; top-k is the bounded-heap aggregate — no window, no full-corpus per-probe sort") {
    val df = SparkEntry.queries("q156_label_screen")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set must broadcast:\n$p")
    // the r14 formulation shuffled every (probe x corpus) scored pair into
    // row_number over (partition by pid) — ONE partition per probe holding
    // the whole corpus's candidates. The bounded-heap aggregator replaces
    // it: partial_ aggregation must appear (map-side k-bounded heaps), and
    // no Window exec may survive anywhere in the plan.
    assert(!p.contains("Window ["), s"label screen must not rank via a window:\n$p")
    assert(p.contains("partial_"), s"top-k aggregator must partially aggregate map-side:\n$p")
  }

  test("q196: IVF screen candidates meet on a cell EQUI-join; no window, map-side partial top-k") {
    val df = SparkEntry.queries("q196_label_screen_ivf")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the celled variant's whole point: candidate pairing is an equi-join
    // on the cell key (broadcast of the exploded probe batch), never a
    // nested-loop over the corpus
    assert(p.contains("BroadcastHashJoin"), s"cell equi-join must broadcast the probe cells:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"celled candidates must never pair all-corpus:\n$p")
    assert(!p.contains("Window ["), s"label screen must not rank via a window:\n$p")
    assert(p.contains("partial_"), s"top-k aggregator must partially aggregate map-side:\n$p")
  }

  test("q168: cross-corpus band join is a hash equi-join on the band key — never a nested loop") {
    val p = plan("q168_crosscorpus_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cross-set candidate join must stay an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "band-key equi-join missing")
  }

  test("q168: the LSH verify walks each candidate pair at most twice — once in the join filter, once in the projection") {
    val df = SparkEntry.queries("q168_crosscorpus_lsh")(spark, dir)
    val formatted = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val walks = "sortedarrays(intersectcount|jaccard)\\(".r.findAllIn(formatted).size
    assert(walks >= 1 && walks <= 2, s"$walks merge walks per verified pair:\n$formatted")
  }

  test("q165 probe: range serve scans the sketch table partitions, never the events table") {
    val path = graft.Queries.q165Build(spark, dir)
    val probe = graft.Queries.q165Probe(spark, path, dir)
    // the ESTIMATE branch must read only committed sketch dirs; events
    // appears solely in the exact-audit branch
    val p = probe.queryExecution.executedPlan.toString
    // since round-18 the requested day partitions arrive as ONE multi-dir
    // relation (readPartitionsUnioned); round-19 (ADVICE r18 #5) pins the
    // assertion to the SKETCH SCAN itself: every scan that reads the
    // sketch bytes must read MULTIPLE partition dirs, all under the
    // committed rollup table. The scan nodes' root paths are checked, not
    // the plan text: the renderer abbreviates a scan's location to 100
    // chars, so whether the text still shows "rollup/" depended on the
    // length of the random temp-dir name
    val rollupDir = new java.io.File(path).getAbsolutePath + "/"
    val sketchScans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(probe.queryExecution.executedPlan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .filter(_.output.exists(a => a.name == "sk" && a.dataType == org.apache.spark.sql.types.BinaryType))
    assert(sketchScans.nonEmpty,
      s"range serve must scan the stored rollup's committed partition dirs (sk:binary scan):\n$p")
    assert(sketchScans.forall { s =>
      val roots = s.relation.location.rootPaths
      roots.size >= 2 && roots.forall(_.toUri.getPath.startsWith(rollupDir))
    }, s"sketch scan should read the requested committed day partitions as one multi-dir relation:\n$p")
    // the events table feeds ONLY the exact-audit subtree: exactly the
    // audit branch's scans of it, never a scan under the estimate branch
    // (2 ranges x 1 audit scan each = at most 2 file-index mentions)
    val eventsScans = "events\\.parquet".r.findAllIn(p).size
    assert(eventsScans <= 2,
      s"events may appear only under the exact-audit subtree (found $eventsScans mentions):\n$p")
    // partial-then-final sketch union: the merge reduces map-side
    assert(p.contains("partial_hll_union_agg"), "sketch union must partially aggregate before the exchange")
  }

  test("q176 line dedup: three hashed-key exchanges, no sort, no cartesian, no UDF") {
    val p = plan("q176_line_dedup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"line dedup promises <=3 hashed exchanges, plan has $exchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), "must stay expression-only")
  }

  test("q185 importance sampling: the scoring subtree is materialized once (InMemoryRelation), filter stays cheap") {
    // the cache lives as long as the caller's scope (a bench rep, a Verify dump)
    graft.core.Caching.scoped {
      val p = plan("q185_importance_sample")
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        s"the cached scoring frame must serve the join — without it the filter inlines the aggregate chain ~6x:\n$p")
      assert(!p.contains("aggregate(") || p.split("aggregate\\(").length <= 3,
        s"scoring lambda must not be inlined into the acceptance filter:\n$p")
    }
    // once the scope exits its cache entries are gone: a fresh plan of the
    // same query (outside any scope, so it caches nothing itself) finds no
    // InMemoryRelation left behind in the session's CacheManager
    val after = plan("q185_importance_sample")
    assert(!after.contains("InMemoryTableScan") && !after.contains("InMemoryRelation"),
      s"the scope left a cached frame behind:\n$after")
  }

  test("q149 containment: candidates come from the PREFIX slice, verified by exact intersection") {
    val p = plan("q149_containment")
    // the prefix probe (slice of the rarest-first array) must feed the
    // candidate join — if the raw postings self-join comes back, the slice
    // and the intersection verify both vanish from the plan
    assert(p.contains("slice("), s"prefix slice missing — candidate join regressed to raw postings:\n$p")
    assert(p.contains("sortedarraysintersectcount"), s"exact candidate verify missing:\n$p")
    // (the rarest-first sort_array is aliased away inside the aggregate in
    // the executed-plan text; DedupSpec's hot-shingle case guards the
    // ordering behaviorally — zero candidates is only possible rarest-first)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must stay an equi-join:\n$p")
  }

  test("q135 PPJoin: minimal-match candidates — no distinct/aggregate exchange after the posting join") {
    // the round-15 sf3 fix: candidate pairs materialize from exactly one
    // shared prefix element (before-set disjointness in the join condition,
    // the codegen'd sorted merge walk), so the 10^9-row dedup exchange that
    // spilled at sf3 must never come back
    val p = plan("q135_ppjoin")
    assert(p.contains("sortedarraysoverlap"),
      s"minimal-match before-set disjointness missing from the candidate join condition:\n$p")
    assert(p.contains("posexplode"),
      s"positional postings missing — the positional bound needs match positions:\n$p")
    // exactly the aggregates the operator owns may remain: the df count,
    // the per-doc collect_list, and the verify side — NO pair-keyed
    // aggregate or distinct between the candidate join and the verify
    assert(!p.contains("HashAggregate(keys=[id_a"),
      s"pair-keyed dedup exchange is back after the candidate join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("q37 MinHash-LSH: verify joins broadcast the shingle dictionary, intersect is the merge walk") {
    // round-15: the candidate stream must never re-exchange its pair rows
    // carrying two shingle arrays (the q135 verify pattern), and |A∩B| is
    // the allocation-free sorted merge walk, not per-pair array builds
    val p = plan("q37_minhash_lsh")
    assert(p.contains("sortedarraysjaccard"),
      s"merge-walk jaccard missing — per-pair array_intersect churn is back:\n$p")
    assert(!p.contains("array_intersect"),
      s"array_intersect materializes a throwaway array per verified pair:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"shingle dictionary must broadcast into both verify joins:\n$p")
  }

  test("q65/q88 sketch banding: minimal-match chunk join — no pair-keyed distinct exchange") {
    // round-15: a pair agreeing on k chunks used to emit k rows into a
    // distinct exchange; the first-agreeing-chunk predicate in the join
    // condition keeps exactly one, so no pair-keyed aggregate may follow
    for (name <- Seq("q65_simhash_neardup", "q88_dup_groups")) {
      val p = plan(name)
      assert(!p.contains("HashAggregate(keys=[id_a"),
        s"$name: pair-keyed dedup exchange is back after the chunk join:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: banding must stay an equi-join:\n$p")
    }
  }

  test("q198 covariance: exploded self-join reuses one exchange, partial agg before the O(dim^2) shuffle") {
    val p = plan("q198_covariance")
    // both join inputs are the same (id, dim, v) subtree — the exchange
    // must plan once and be reused, not scanned+shuffled twice
    assert(p.contains("ReusedExchange") || p.contains("ReusedSubquery") || p.contains("BroadcastHashJoin"),
      s"self-join re-shuffles the exploded relation twice:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"partial aggregation missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair expansion must stay an equi-join:\n$p")
  }

  test("q194 Dawid-Skene: E-step weights re-enter as broadcast, never a vote-table shuffle") {
    val p = plan("q194_dawid_skene")
    // the M-step weight frame is annotators x labels (tiny at any corpus
    // size) — each E-step must join it broadcast so the only vote-table
    // shuffles are the consensus joins and the per-(item,label) aggs
    assert(p.contains("BroadcastHashJoin"),
      s"weighted re-label must broadcast the weight frame:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"EM must stay equi-join-only:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "EM is pure integer expressions — no UDFs")
  }

  test("q178 HTML extraction: single whole-stage pass, zero exchanges") {
    val p = plan("q178_html_text")
    assert(!p.contains("Exchange"), s"pure projection chain must not shuffle:\n$p")
    assert(p.contains("*("), "regexp chain must run inside whole-stage codegen (starred operators)")
  }
}
