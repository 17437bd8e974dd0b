package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick brown fox jumps over the lazy dog!"), // exact dup after normalization
    (3L, "the quick brown fox jumps over the sleepy dog and then runs away"), // near-dup of 1
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical docs") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    val dupGroup = out.find(_.getLong(2) == 2)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getLong(1) == 1L) // keeper = min doc_id
    assert(out.length == 4) // 1&2 merge; 3,4,5 distinct
  }

  test("minhash LSH finds the planted near-dup pair and verifies jaccard") {
    val out = Dedup
      .minhashLsh(docs, "doc_id", "text", shingleSize = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact-dup pair (1,2) collides in every band trivially (jaccard
    // 1.0); the RECALL property needs the true near-dup (1,3) specifically —
    // deterministic under the fixed hash seeds, so pin it
    assert(pairs.contains((1L, 3L)), s"planted near-dup (1,3) not recovered: $pairs")
    assert(pairs.contains((1L, 2L)))
    out.foreach(r => assert(r.getDouble(2) >= 0.3 && r.getDouble(2) <= 1.0))
  }

  test("simhash: identical texts share sketch, disjoint texts differ") {
    val hashes = docs
      .filter($"doc_id".isin(1L, 2L, 4L))
      .select($"doc_id", Dedup.simhash60(lower(regexp_replace($"text", "[^a-zA-Z ]", ""))).as("h"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) != hashes(4L))
  }

  test("simhashNearDup finds near-identical docs within the Hamming budget") {
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // 1 word swapped
      (3L, "totally different content with other words entirely unrelated here now")
    ).toDF("doc_id", "text")
    // big-budget exact-recall property: 17 chunks of 3 bits is a test-only
    // setting (quadratic at scale), so the guard must be explicitly lowered
    val pairs = Dedup.simhashNearDup60(near, "doc_id", "text", maxHamming = 16, minChunkBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhashNearDup rejects Hamming budgets whose chunks go sub-scale") {
    val near = Seq((1L, "a b c")).toDF("doc_id", "text")
    // 60-bit sketch, maxHamming=10 -> 11 chunks of 5 bits: the round-2
    // parameterization the scale guard now refuses by default
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDup60(near, "doc_id", "text", maxHamming = 10)
    }
    assert(e.getMessage.contains("all-pairs"))
    // the boundary setting passes: 5 chunks of 12 bits
    Dedup.simhashNearDup60(near, "doc_id", "text", maxHamming = 4).collect()
  }

  test("simhashNearDup exact recall: banded output equals all-pairs filter") {
    val docs = (1L to 40L).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota", "kappa")
      val words = base.updated((i % 10).toInt, s"w$i") ++ Seq(s"x${i % 7}", s"y${i % 3}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDup60(docs, "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sk = docs.select($"doc_id", Dedup.simhash60($"text").as("sk")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= 4
    } yield (a, b, h)).toSet
    assert(banded == exact)
  }

  test("duplicateGroups: transitive chains collapse to min-id components; long paths converge") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val g = Dedup.duplicateGroups(pairs, "id_a", "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a 20-node path needs multiple propagation rounds (diameter >> 1)
    val path = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateGroups(path, "id_a", "id_b").collect().map(_.getLong(1)).distinct.toSeq
    assert(labels == Seq(1L), "path graph must collapse to one component labeled by its min id")
  }

  test("duplicateGroups: 100-node chain converges in log-diameter rounds (pointer jumping)") {
    // diameter 99 — plain min-propagation would need 99 rounds; the
    // pointer-jump step must collapse it well inside maxIters = 10
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val g = Dedup.duplicateGroups(chain, "id_a", "id_b", maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(g.length == 100)
    assert(g.forall(_._2 == 0L), "every chain node must label to the min id 0")

    // VERDICT r17 #7's pathological corpus, an order of magnitude up:
    // diameter 1023 — plain propagation needs 1023 full-data passes;
    // pointer jumping must land it in ~log2(1023)+detection ≈ 12 rounds.
    // maxIters = 14 is the contract pin: if the jump step regresses to
    // O(diameter), this require()s loudly instead of running 1000 rounds.
    val long = (0L until 1023L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gl = Dedup.duplicateGroups(long, "id_a", "id_b", maxIters = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(gl.length == 1024)
    assert(gl.forall(_._2 == 0L), "every chain node must label to the min id 0")
  }

  test("duplicateGroups: reliable checkpoint dir produces identical components") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val pairs = Seq((5L, 6L), (6L, 7L), (30L, 31L)).toDF("id_a", "id_b")
      val g = Dedup.duplicateGroups(pairs, "id_a", "id_b", checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(g == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 30L -> 30L, 31L -> 30L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("hotShingleCap: drops degenerate shingles, keeps true near-dups, no-op when slack") {
    // every doc opens with the same boilerplate (its interior shingles have
    // df=4 — the hot ones); docs 1-2 are true near-dups through a long run
    // of rare shingles, differing only in the final token
    val boiler = "standard legal disclaimer text here"
    val blocked = Seq(
      (1L, s"$boiler quick brown fox jumps over lazy dog near river bank alpha", "en"),
      (2L, s"$boiler quick brown fox jumps over lazy dog near river bank beta", "en"),
      (3L, s"$boiler unrelated topic one two three four five six seven eight", "en"),
      (4L, s"$boiler another thing nine ten eleven twelve thirteen fourteen fifteen sixteen", "en")
    ).toDF("doc_id", "text", "lang")
    def pairs(cap: Option[Int]) =
      Dedup.jaccardPairsWithinBlocks(blocked, "doc_id", "text", Seq("lang"), shingleSize = 3, minJaccard = 0.5, hotShingleCap = cap)
        .select($"id_a", $"id_b", $"jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val exact = pairs(None)
    assert(exact.contains((1L, 2L)), "true near-dup pair missing from the exact run")

    // cap below the block size: the boilerplate shingles (df=4) are dropped;
    // the true pair survives on its rare shingles with jaccard a lower bound
    val capped = pairs(Some(3))
    assert(capped.contains((1L, 2L)), "true near-dup lost to the stop-shingle cap")
    assert(capped((1L, 2L)) <= exact((1L, 2L)) + 1e-12, "capped jaccard must be a lower bound")
    // pairs related ONLY through boilerplate fall below the threshold
    assert(!capped.contains((3L, 4L)))

    // cap with slack (>= block size): bit-identical to the exact run
    assert(pairs(Some(4)) == exact)
  }

  test("jaccard: exact values on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard($"x", $"y")).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    assert(empty.select(Dedup.jaccard($"x", $"y")).head().getDouble(0) == 0.0)
  }

  test("jaccardPairsWithinBlocks: ids unique only within a block don't cross-contaminate") {
    // doc ids 1 and 2 exist in BOTH blocks (per-source id spaces); the fr
    // texts are much longer, so a size row leaking across blocks would
    // visibly corrupt the jaccard denominator (and duplicate output rows)
    val blocked = Seq(
      (1L, "quick brown fox jumps over the lazy dog alpha", "en"),
      (2L, "quick brown fox jumps over the lazy dog beta", "en"),
      (1L, "entirely different corpus line one two three four five six seven eight nine ten eleven twelve", "fr"),
      (2L, "entirely different corpus line one two three four five six seven eight nine ten eleven thirteen", "fr")
    ).toDF("doc_id", "text", "lang")
    val got = Dedup
      .jaccardPairsWithinBlocks(blocked, "doc_id", "text", Seq("lang"), shingleSize = 3, minJaccard = 0.3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
    // exactly one row per (block, pair): no cross-block duplication
    assert(got.map(_._1).toSeq.sorted == Seq(("en", 1L, 2L), ("fr", 1L, 2L)))
    // ground truth per block from the same shingle pipeline, computed naively
    val truth = blocked
      .select(col("lang"), col("doc_id"),
        array_distinct(graft.plans.HashExpressions.shingleHash60(TextAnalysis.tokens(col("text")), 3)).as("sh"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Long](2).toSet)
      .toMap
    got.foreach { case ((lang, a, b), j) =>
      val (sa, sb) = (truth((lang, a)), truth((lang, b)))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 1e-12, s"block $lang pair ($a,$b)")
    }
  }

  test("wordShingles: n-gram construction and short-doc empty result") {
    val sh = docs
      .filter($"doc_id" === 1L)
      .select(TextAnalysis.wordShingles($"text", 3).as("sh"))
      .head()
      .getSeq[String](0)
    assert(sh.head == "the quick brown")
    assert(sh.length == 7) // 9 tokens -> 7 tri-grams
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(short.select(TextAnalysis.wordShingles($"text", 3)).head().getSeq[String](0).isEmpty)
  }

  test("dedupSubstrings removes corpus-duplicated k-spans, merges overlaps, keeps unique text") {
    // k=4. Docs A and B share the span "w1 w2 w3 w4 w5" (two overlapping
    // 4-grams -> one merged 5-token span in each); doc C repeats a 4-gram
    // INSIDE itself; doc D is unique; doc E is shorter than k.
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 ua ub uc"),
      (2L, "va vb w1 w2 w3 w4 w5 vc"),
      (3L, "r1 r2 r3 r4 x y z r1 r2 r3 r4"),
      (4L, "only unique words appear here today friends"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap

    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    assert(out(1L) == ((8L, 1L, 5L, 3L, md5hex("ua ub uc"))))
    assert(out(2L) == ((8L, 1L, 5L, 3L, md5hex("va vb vc"))))
    // doc 3: starts 0 and 7 both dup ("r1 r2 r3 r4"), non-touching ->
    // two spans, 8 tokens removed, "x y z" kept
    assert(out(3L) == ((11L, 2L, 8L, 3L, md5hex("x y z"))))
    assert(out(4L) == ((7L, 0L, 0L, 7L, md5hex("only unique words appear here today friends"))))
    assert(out(5L) == ((2L, 0L, 0L, 2L, md5hex("too short"))))
  }

  test("dedupSubstrings: adjacent (touching) occurrences merge into one span; k<2 refused") {
    // "a b a b a b a b" with k=2: every 2-gram dups; all positions covered -> one span
    val d = Seq((1L, "a b a b a b a b"), (2L, "a b zz")).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(d, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((1L, 8L, 0L)))
    // doc 2 shares only the "a b" 2-gram -> loses it, keeps "zz"
    assert(out(2L) == ((1L, 2L, 1L)))
    intercept[IllegalArgumentException] { Dedup.dedupSubstrings(d, "doc_id", "text", k = 1) }
  }

  test("fuzzyPairs: within-block Levenshtein pairs only; cross-block near-names never compared") {
    val parts = Seq(
      (1L, "red widget"), (2L, "blue widget"), (3L, "rod widget"),
      (4L, "red gadget"), // 1 edit from "red widget" but different block -> excluded by contract
      (5L, "enormous widget")
    ).toDF("id", "name")
    val block = (name: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.element_at(org.apache.spark.sql.functions.split(name, " "), 2)
    val out = Dedup.fuzzyPairs(parts, "id", "name", block, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    assert(out((1L, 3L)) == 1) // red/rod: one substitution
    assert(!out.contains((1L, 4L)), "cross-block pair must not be compared")
    assert(!out.contains((1L, 5L)), "within-block pair past maxDist must be filtered")
    // red/blue and blue/rod are 4 edits — past maxDist even within the block
    assert(out.keySet == Set((1L, 3L)))
    intercept[IllegalArgumentException] { Dedup.fuzzyPairs(parts, "id", "name", block, maxDist = -1) }
  }

  test("dedupSubstrings phase 1: fused window digests match the explicit string-gram hashes") {
    // The de-stringified phase 1 keys windows by ShingleHash60 (token
    // bytes streamed into MD5). Parity oracle: hash the materialized
    // gram STRING with Md5Prefix60 — every (doc, start) must agree, so
    // the fused path can never place a window in a different phase-1
    // group than the old array_join formulation did.
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 ua ub uc"),
      (2L, "va vb w1 w2 w3 w4 w5 vc"),
      (3L, "r1 r2 r3 r4 x y z r1 r2 r3 r4"),
      (4L, ""),
      (5L, "a b c") // shorter than k -> no windows
    ).toDF("doc_id", "text")
    val toks = d.select($"doc_id", TextAnalysis.tokens($"text").as("ws"))
    val fused = Dedup.substringWindowHashes(toks, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaStrings = toks
      .select(
        $"doc_id",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.size($"ws") >= 4,
            org.apache.spark.sql.functions.expr(
              "transform(sequence(0, size(ws) - 4), i -> struct(i as s, array_join(slice(ws, i + 1, 4), ' ') as g))"))
            .otherwise(org.apache.spark.sql.functions.expr("array()").cast("array<struct<s:int,g:string>>"))
        ).as("w"))
      .select($"doc_id", $"w.s".as("s"), graft.plans.HashExpressions.md5Prefix60($"w.g").as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fused.nonEmpty && fused == viaStrings)
  }

  test("dedupSubstringsText: retained text matches dedupSubstrings' fingerprints") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 ua ub uc"),
      (2L, "va vb w1 w2 w3 w4 w5 vc"),
      (3L, "r1 r2 r3 r4 x y z r1 r2 r3 r4"),
      (4L, "only unique words appear here today friends"),
      (5L, "too short"),
      (6L, "w1 w2 w3 w4 w5") // fully removed -> empty retained text
    ).toDF("doc_id", "text")
    val txt = Dedup.dedupSubstringsText(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(txt(1L) == "ua ub uc")
    assert(txt(2L) == "va vb vc")
    assert(txt(3L) == "x y z")
    assert(txt(4L) == "only unique words appear here today friends")
    assert(txt(5L) == "too short")
    assert(txt(6L) == "")
    // cross-check against the stats variant's md5s on the same corpus
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stats = Dedup.dedupSubstrings(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    txt.foreach { case (id, t) => assert(stats(id) == md5hex(t)) }
  }

  test("jaccardPairsPrefix: equals brute-force threshold join; prefix index is smaller than the corpus index") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // overlapping vocab with planted near-dups and decoys
    val docs = (1L to 60L).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
      val rot = base.drop((i % 5).toInt) ++ base.take((i % 5).toInt)
      (i, (rot.take(5) :+ s"tail${i % 7}").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over collected token sets
    val sets = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").distinct.toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toLong
      un = sets(a).size + sets(b).size - inter
      if inter * 5 >= un * 3
    } yield (a, b, math.floor(10000.0 * inter / un).toLong)).toSet
    assert(got == expected && got.nonEmpty)
    intercept[IllegalArgumentException] { Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 7L, 5L) }
  }

  test("jaccardCandidates: minimal-match rule emits each candidate pair exactly once on dense replica families") {
    import spark.implicits._
    // ScaleGen's honest stress case: 30-way replica families (identical base
    // text + a replica-distinct tail token), where every within-family pair
    // shares ~its whole prefix. Before the minimal-match rule, candidate
    // generation emitted one row per shared prefix element per pair (the sf3
    // DNF); the rule bounds emissions to one row per pair with zero
    // aggregation downstream of the join.
    val bases = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi",
      "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen",
      "red orange yellow green blue indigo violet cyan magenta maroon olive navy teal silver gold bronze"
    )
    val docs = (for {
      (b, f) <- bases.zipWithIndex
      i <- 1 to 30
    } yield ((f * 100 + i).toLong, s"$b zreplica${i}tok")).toDF("doc_id", "text")
    val cand = Dedup.jaccardCandidates(
      Dedup.jaccardOrdered(Dedup.jaccardSets(docs, "doc_id", "text", shingleSize = 3), 2L, 5L), 2L, 5L)
    val rows = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "a candidate pair was emitted more than once")
    // every within-family pair is a true near-dup and must be present
    // (exact recall), and nothing crosses families (disjoint vocabularies)
    val within = (for { f <- 0 until 3; i <- 1 to 30; j <- (i + 1) to 30 }
      yield ((f * 100 + i).toLong, (f * 100 + j).toLong)).toSet
    assert(within.subsetOf(rows.toSet))
    assert(rows.forall(p => p._1 / 100 == p._2 / 100))
    // end-to-end on the same corpus: verified output matches brute force
    val got = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == within)
  }

  test("SortedArraysOverlap: merge-walk matches expectations on sorted inputs, both eval paths and both element types") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), false),
      (Seq(1L, 3L, 5L), Seq(5L, 7L), true),
      (Seq.empty[Long], Seq(1L), false),
      (Seq(-9L, 0L, 2L), Seq(-9L), true),
      (Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue), true),
      (Seq(1L, 2L, 3L), Seq.empty[Long], false)
    ).toDF("a", "b", "want")
    val got = df.withColumn("got", graft.plans.SetExpressions.sortedOverlap(col("a"), col("b")))
    // codegen path (filter inside whole-stage codegen)
    assert(got.filter(col("got") =!= col("want")).count() == 0)
    // string element space (unigram mode): UTF8 binary order
    val sdf = Seq(
      (Seq("ant", "bee", "cat"), Seq("bee", "dog"), true),
      (Seq("ant", "cat"), Seq("bee", "dog"), false),
      (Seq.empty[String], Seq.empty[String], false)
    ).toDF("a", "b", "want")
    val sgot = sdf.withColumn("got", graft.plans.SetExpressions.sortedOverlap(col("a"), col("b")))
    assert(sgot.filter(col("got") =!= col("want")).count() == 0)
    // interpreted path
    val lt = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
    val expr = graft.plans.SortedArraysOverlap(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(1L, 4L, 9L), lt),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(2L, 4L), lt))
    assert(expr.eval(null) == true)
  }

  test("canonicalPerGroup: longest-text keeper with id tie-break; unpaired docs are their own group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "medium text"), // one group
      (4L, "same len"), (5L, "same len"),                                // tie -> lower id wins
      (9L, "a singleton")                                                // no pair
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalPerGroup(docs, "doc_id", "text", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == (1L, 2L, false) && out(2L) == (1L, 2L, true) && out(3L) == (1L, 2L, false))
    assert(out(4L) == (4L, 4L, true) && out(5L) == (4L, 4L, false))
    assert(out(9L) == (9L, 9L, true))
  }

  test("containmentPairs: asymmetric ratios catch the contained doc Jaccard misses") {
    import spark.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4"),                          // 2 shingles, fully inside doc 2
      (2L, "w1 w2 w3 w4 x1 x2 x3 x4 x5 x6 x7 x8"), // 10 shingles
      (3L, "totally different words here entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "doc_id", "text", minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // C(1 in 2) = 2/2 = 1.0; C(2 in 1) = 2/10 = 0.2 — Jaccard is 0.2,
    // below every dedup threshold, but containment flags it
    assert(out.toSeq == Seq((1L, 2L, 10000L, 2000L)))
    // raising the threshold past both directions drops the pair
    assert(Dedup.containmentPairs(d, "doc_id", "text", minContainment = 1.01).count() == 0)
  }

  test("containmentPairs hot-shingle cap: ratios stay consistent over the reduced element space") {
    // "common" appears in 4 docs -> hot under cap=2 and amputated; doc 1's
    // RETAINED shingles {alpha, beta} are fully contained in doc 2, so
    // C(1 in 2) must be 1.0 over the reduced space. (Mixing the capped
    // intersection with full-set sizes would report 2/3 and silently drop
    // the pair at 0.9 — the ADVICE r10 recall loss.)
    val d = Seq(
      (1L, "common alpha beta"),
      (2L, "common alpha beta gamma delta"),
      (3L, "common fillerone"),
      (4L, "common fillertwo")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "doc_id", "text", shingleSize = 1,
      minContainment = 0.9, hotShingleCap = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 10000L)), s"expected exact containment over retained shingles, got $out")
  }

  test("containmentPairs prefix filter: a corpus-wide hot shingle generates ZERO candidates") {
    // 120 docs, each three unique tokens plus one boilerplate token shared
    // by ALL of them. The retired postings self-join would materialize
    // C(120,2) = 7140 candidate rows from the boilerplate key alone (and
    // 10^12 from a 1M-doc corpus — the scale-killer VERDICT r12 named).
    // Under the prefix rule the boilerplate token is the most frequent, so
    // rarest-first ordering keeps it out of every doc's prefix: the unique
    // prefix tokens hit only their own doc's postings and the candidate
    // set is EMPTY. Exactness untouched: no doc pair here reaches C >= 0.5
    // (intersection 1 of 4), so the empty output is also the right answer.
    val hot = (1L to 120L).map(i => (i, s"u${i}a u${i}b u${i}c boilerplate")).toDF("doc_id", "text")
    val ordered = Dedup.containmentOrdered(hot, "doc_id", "text",
      shingleSize = 1, minContainment = 0.5, hotShingleCap = None)
    assert(Dedup.containmentCandidates(ordered).count() == 0L,
      "hot shingle leaked into a prefix: the candidate join is quadratic again")
    assert(Dedup.containmentPairs(hot, "doc_id", "text", shingleSize = 1, minContainment = 0.5).count() == 0L)
    // recall is intact through the same path: plant one genuine containment
    // (doc 200's tokens all inside doc 201) in the same hot-shingle corpus
    val planted = hot.union(Seq(
      (200L, "p1 p2 p3 boilerplate"),
      (201L, "p1 p2 p3 p4 p5 p6 p7 boilerplate")
    ).toDF("doc_id", "text"))
    val pairs = Dedup.containmentPairs(planted, "doc_id", "text", shingleSize = 1, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((200L, 201L, 10000L)), s"planted containment pair lost by the prefix filter: $pairs")
  }

  test("incremental LSH: probe equals full recompute restricted to the batch; index stays current") {
    val corpusDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark query engines and shuffles"),
      (4L, "another unrelated document describing warehouse commit protocols")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (11L, "the quick brown fox jumps over the lazy dog tonight") // exact dup of 1, near 10
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-lsh-idx").toString + "/index"
    Dedup.lshIndexBuild(spark, idx, corpusDocs, "doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got1 = pairSet(Dedup.lshProbeAndAppend(spark, idx, batch1, "doc_id", "text", minJaccard = 0.3))
    // ground truth: full portable LSH over corpus+batch, batch-touching pairs
    val full = Dedup
      .minhashLsh(corpusDocs.unionByName(batch1), "doc_id", "text", minJaccard = 0.3)
      .filter(col("id_a") >= 10L || col("id_b") >= 10L)
      .select(col("id_a"), col("id_b"), floor(col("jaccard") * 10000).cast("long"))
    assert(got1 == pairSet(full) && got1.nonEmpty, s"incremental != full: $got1")
    // a SECOND batch must see batch-1 docs through the appended index
    val batch2 = Seq((20L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val got2 = pairSet(Dedup.lshProbeAndAppend(spark, idx, batch2, "doc_id", "text", minJaccard = 0.3))
    assert(got2.contains((10L, 20L, 10000L)), s"batch-2 probe must match batch-1's appended doc: $got2")

    // IDEMPOTENT re-delivery: re-running the same batch resolves to the
    // same content-derived batch id and OVERWRITES its own state — no
    // duplicate sig rows, no duplicated pairs (ADVICE r10: the bare
    // append protocol double-appended here)
    val got2Again = pairSet(Dedup.lshProbeAndAppend(spark, idx, batch2, "doc_id", "text", minJaccard = 0.3))
    assert(got2Again == got2, "re-applied batch must yield identical pairs")
    val sig20 = spark.read.parquet(s"$idx/sigs").filter(col("doc_id") === 20L).count()
    assert(sig20 == 1L, s"re-delivered batch must not duplicate sig rows, found $sig20")

    // CRASH INVISIBILITY: a batch directory without its _batches marker
    // (a writer that died between the two table writes) is pruned by
    // every reader — the index serves only committed batches
    spark.range(1).selectExpr("999L AS doc_id", "array(1L,2L) AS shingles", "array(1L) AS sig")
      .write.mode("overwrite").parquet(s"$idx/sigs/batch=crashed1")
    val got3 = pairSet(Dedup.lshProbeAndAppend(spark, idx,
      Seq((30L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text"),
      "doc_id", "text", minJaccard = 0.3))
    assert(!got3.exists(p => p._1 == 999L || p._2 == 999L), "uncommitted batch must stay invisible")
    assert(got3.contains((20L, 30L, 10000L)), s"committed batches still serve: $got3")
  }

  test("crossCorpusLsh: planted near-dup contamination found, clean docs and within-set pairs excluded") {
    import spark.implicits._
    // corpus doc 1 is a lightly-edited copy of benchmark item 100 (the
    // paraphrase case exact n-gram screens under-count); 2 is clean;
    // 3 and 4 duplicate EACH OTHER but match no benchmark item — a
    // within-corpus pair must NOT be reported by a cross-set screen
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated corpus text with different words entirely"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (200L, "some benchmark question about astronomy and orbital mechanics")
    ).toDF("doc_id", "text")
    val got = Dedup.crossCorpusLsh(corpus, bench, "doc_id", "text", minJaccard = 0.5)
      .select($"corpus_id", $"bench_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)), s"expected exactly the planted contamination, got $got")
  }

  test("broadcastDict=false: un-hinted verify plans drop the broadcast and stay hash-equal (all three stages)") {
    // VERDICT r15 #1: the 'drop the hint' escape for over-ceiling
    // dictionaries used to be a comment; this exercises the actual
    // un-hinted plan. autoBroadcastJoinThreshold=-1 stops Spark (and AQE)
    // from re-broadcasting the small test frames on its own, so the plan
    // assertion really tests the hint, not the data size.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.map {
          case d: Double => math.round(d * 1e9) // tolerate nothing but representation
          case x => x
        }).toSet
      def planOf(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString

      // q37's shape: portable MinHash+LSH
      val mh = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleSize = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3)
      val mhU = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleSize = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3,
        broadcastDict = false)
      assert(planOf(mh).contains("BroadcastHashJoin"), "hinted verify must broadcast the dictionary")
      assert(!planOf(mhU).contains("BroadcastHashJoin"), "un-hinted verify must not broadcast")
      assert(rows(mhU) == rows(mh))

      // q135's shape: prefix-filtered exact Jaccard at 2/5
      val jp = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3)
      val jpU = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3,
        broadcastDict = false)
      assert(planOf(jp).contains("BroadcastHashJoin"))
      assert(!planOf(jpU).contains("BroadcastHashJoin"))
      assert(rows(jpU) == rows(jp) && rows(jp).nonEmpty)

      // q149's shape: asymmetric containment
      val ct = Dedup.containmentPairs(docs, "doc_id", "text", shingleSize = 1, minContainment = 0.5)
      val ctU = Dedup.containmentPairs(docs, "doc_id", "text", shingleSize = 1, minContainment = 0.5,
        broadcastDict = false)
      assert(planOf(ct).contains("BroadcastHashJoin"))
      assert(!planOf(ctU).contains("BroadcastHashJoin"))
      assert(rows(ctU) == rows(ct) && rows(ct).nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DictHint.Auto: picks Shuffle past the byte ceiling, Broadcast past the payload ratio, hash-equal both ways") {
    // VERDICT r16 #6: the SCALE.md rule of thumb as an executable mode.
    // The crossover is forced from both sides on the same corpus by
    // turning the two knobs, so the spec pins the decision LOGIC (the
    // measured calibration lives in SCALE.md's sf1/sf3 ledger).
    import graft.operators.Dedup.DictHint
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def planOf(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.map {
          case d: Double => math.round(d * 1e9)
          case x => x
        }).toSet
      val base = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3)

      // SAFETY leg: a 1-byte dictionary ceiling forces Shuffle no matter
      // how favorable the payload ratio is
      val autoSafety = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3,
        broadcastDict = DictHint.Auto(maxDictBytes = 1L, minPayloadRatio = 0.0))
      assert(!planOf(autoSafety).contains("BroadcastHashJoin"),
        "Auto must drop the hint when the dictionary exceeds the byte ceiling")
      assert(rows(autoSafety) == rows(base) && rows(base).nonEmpty)

      // COST leg, broadcast side: ratio 0 under a roomy ceiling → any
      // nonzero candidate volume clears the bar → Broadcast
      val autoBcast = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3,
        broadcastDict = DictHint.Auto(minPayloadRatio = 0.0))
      assert(planOf(autoBcast).contains("BroadcastHashJoin"),
        "Auto must broadcast when the payload-to-dictionary ratio clears the threshold")
      assert(rows(autoBcast) == rows(base))

      // COST leg, shuffle side: an unreachable ratio under the same roomy
      // ceiling → Shuffle (the sf1 regime, where un-hinted measured faster)
      val autoShuffle = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2L, 5L, shingleSize = 3,
        broadcastDict = DictHint.Auto(minPayloadRatio = 1e18))
      assert(!planOf(autoShuffle).contains("BroadcastHashJoin"),
        "Auto must stay un-hinted while the candidate payload is small relative to the dictionary")
      assert(rows(autoShuffle) == rows(base))

      // the other two stages honor Auto too (decision legs shared)
      val mhAuto = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleSize = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3,
        broadcastDict = DictHint.Auto(maxDictBytes = 1L))
      assert(!planOf(mhAuto).contains("BroadcastHashJoin"))
      val ctAuto = Dedup.containmentPairs(docs, "doc_id", "text", shingleSize = 1, minContainment = 0.5,
        broadcastDict = DictHint.Auto(minPayloadRatio = 0.0))
      assert(planOf(ctAuto).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DictHint.Auto.effectiveCeiling: clamps the static ceiling against driver collect and heap build budgets") {
    // ADVICE r17: broadcast also collects on the driver
    // (spark.driver.maxResultSize, default 1g) and the relation build
    // wants ~8x the raw estimate in heap — a 0.5-2 GB estimated
    // dictionary used to pass the static 2 GB check and die at
    // collect/build. Synthetic budgets pin all three legs of the min.
    import graft.operators.Dedup.DictHint.Auto
    val gb = 1024L * 1024 * 1024
    // caller ceiling binds when both live budgets are roomy
    assert(Auto.effectiveCeiling(2 * gb, 64 * gb, 1024 * gb) == 2 * gb)
    // collect budget binds at the 1g default (the ADVICE scenario: a
    // ~1.5 GB estimated dictionary must NOT clear a 2 GB static ceiling)
    assert(Auto.effectiveCeiling(2 * gb, 1 * gb, 1024 * gb) == 1 * gb)
    // build budget binds at a starved heap: 2 GB heap -> 2g/2/8 = 128 MB,
    // under the DictNecessity corpus's ~360 MB estimate — the clamp alone
    // now forces the plan that survived the 2 GB-heap measurement
    assert(Auto.effectiveCeiling(2 * gb, 64 * gb, 2 * gb) == 2 * gb / 2 / Auto.HashedRelationExpansion)
    assert(Auto.effectiveCeiling(2 * gb, 64 * gb, 2 * gb) < (360L * 1024 * 1024))
    // maxResultSize <= 0 means "unlimited" — the collect leg must not
    // zero the ceiling
    assert(Auto.effectiveCeiling(2 * gb, 0L, 1024 * gb) == 2 * gb)
  }

  test("bandedSketchPairs: 64-bit single-chunk case (maxHamming=0) is an exact equality join, not all-pairs") {
    // ADVICE r15: (1L << 64) wraps to 1, so the old mask was 0 and every
    // chunk matched every chunk — correct output, quadratic cost. The
    // full-width mask keeps the single-chunk case a whole-sketch equality.
    import spark.implicits._
    val sketched = Seq(
      (1L, 0x0123456789ABCDEFL), (2L, 0x0123456789ABCDEFL), // identical sketches
      (3L, 0x0123456789ABCDEEL), // 1 bit off doc 1 — must NOT pair at maxHamming=0
      (4L, -1L) // sign bit set: the unsigned shift/mask path must not mangle it
    ).toDF("doc_id", "sk")
    val got = Dedup.bandedSketchPairs(sketched, sketchBits = 64, maxHamming = 0, minChunkBits = 12)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"expected exactly the identical pair, got $got")
    // and the candidate join condition is selective: the join's chunk-value
    // equality must compare full sketches (mask != 0), so the two docs with
    // different sketches never meet. Cost check via the join condition:
    // the plan's join key must not be a constant-0 bitwise AND.
    val p = Dedup.bandedSketchPairs(sketched, 64, 0, 12).queryExecution.optimizedPlan.toString
    assert(!p.contains("& 0)"), s"chunk mask degenerated to 0:\n$p")
  }
}
