package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, at 100 TB design
  * scale.
  *
  * - exact: hash-groupBy on a content fingerprint. One shuffle on a 16-byte
  *   key; with AQE skew handling, safe at any scale.
  * - MinHash + LSH: signature computed per-row with codegen'd column
  *   expressions (no UDF), banded, and candidates found by a self-join on
  *   hash-free (band index, signature slice) keys — the join key space is
  *   tiny relative to the corpus so the shuffle is on the banded keys,
  *   never all-pairs.
  * - SimHash: 60-bit sketch per document; near-dups = identical sketch, or
  *   within a Hamming budget by pigeonhole chunk banding.
  * - n-gram Jaccard: exact verification on candidate pairs only.
  *
  * One hash family throughout: shingles and tokens hash by the md5-prefix
  * 60-bit digest ([[graft.plans.ShingleHash60]]), which the DuckDB oracle
  * replays, and every MinHash+LSH operator builds its signature and band
  * tables through [[sigTable]] and [[bandTable]].
  */
object Dedup {

  /** Dictionary-broadcast policy for the candidate-verify joins of the
    * three verify stages ([[minhashLsh]], [[containmentPairs]],
    * [[jaccardPairsPrefix]]).
    *
    * [[DictHint.Broadcast]] (the benched default) replicates the per-doc
    * element dictionary so the (dominant) candidate stream never
    * re-exchanges its pair rows; [[DictHint.Shuffle]] drops the hint for
    * dictionaries past the broadcast ceiling — same rows (spec-proven
    * hash-equal, DedupSpec), the dictionary exchanged wide across the
    * fleet instead of replicated per executor; [[DictHint.Auto]] measures
    * the corpus and picks (VERDICT r16 #6 — the SCALE.md rule of thumb,
    * made executable). Booleans still work at every call site
    * (`broadcastDict = false`) via the companion implicit.
    */
  sealed trait DictHint
  object DictHint {
    import scala.language.implicitConversions

    /** Always hint — candidate mass dominates and the dictionary fits. */
    case object Broadcast extends DictHint

    /** Never hint — the over-ceiling escape; per-executor exchange volume
      * stays flat where the broadcast would OOM at collect.
      */
    case object Shuffle extends DictHint

    /** Measure and decide. Costs one small eager stats job at
      * DataFrame-construction time (the [[graft.operators.Similarity]]
      * guardedBroadcast precedent — a measured fact beats a stale stats
      * estimate when one failure mode is an OOM):
      *
      *  1. SAFETY: estimated dictionary bytes
      *     (docs × (avg set length × 8 + ~48 B row overhead)) above
      *     `maxDictBytes` → [[Shuffle]], the 100 TB rule — broadcast only
      *     while the dictionary fits the executor heap.
      *  2. COST: otherwise [[Broadcast]] iff the estimated verify
      *     re-exchange payload (candidate rows × 2 element arrays) is at
      *     least `minPayloadRatio` × dictionary bytes. Candidate rows are
      *     ESTIMATED from the same postings the candidate stage joins
      *     (Σ c·(c−1)/2 over join-key frequencies — an upper bound on the
      *     pre-filter join volume, consistent across scales), so the knob
      *     tracks the actual crossover quantity: at sf1 the un-hinted
      *     sort-merge verify measured FASTER (the broadcast's
      *     collect+replicate cost exceeds the shuffle it saves while the
      *     payload-to-dictionary ratio is low), at sf3 the un-hinted plan
      *     DNFed where the broadcast ran in ~30-42 s (SCALE.md r16 A/B).
      *     The default ratio is calibrated between those two measured
      *     points (SCALE.md r17 ledger).
      */
    final case class Auto(
        maxDictBytes: Long = Auto.MaxDictBytes,
        minPayloadRatio: Double = Auto.MinPayloadRatio
    ) extends DictHint
    object Auto {
      /** Default dictionary-bytes ceiling: 2 GB — inside a typical
        * executor's storage/broadcast headroom and the driver collect
        * budget at default configs. Always further clamped against the
        * LIVE budgets via [[effectiveCeiling]] (ADVICE r17).
        */
      val MaxDictBytes: Long = 2048L * 1024 * 1024

      /** Hashed-relation expansion over the raw column-bytes estimate,
        * measured by [[graft.DictNecessity]]: a dictionary estimated
        * ~360 MB expands through collect + relation build to kill both a
        * 2 GB heap (hard OOM) and a 3 GB heap (broadcast-build abort) —
        * ~8x once build scratch and the coexisting collected rows count.
        */
      val HashedRelationExpansion: Long = 8L

      /** ADVICE r17: a static byte ceiling alone under-protects on
        * default configs — broadcast also COLLECTS on the driver
        * (`spark.driver.maxResultSize`, default 1g, bounds the serialized
        * rows; <= 0 means unlimited) and the relation build wants
        * [[HashedRelationExpansion]]x the raw estimate in live heap, so a
        * 0.5-2 GB estimated dictionary used to pass the 2 GB check and
        * die at collect/build. Effective ceiling = the caller's, clamped
        * against both live budgets (half the heap left for everything
        * else). Pure arithmetic — spec-pinned with synthetic budgets
        * (DedupSpec); at the [[graft.DictNecessity]] corpus this clamp
        * alone (2 GB heap -> 128 MB ceiling < the ~360 MB estimate)
        * already forces the surviving Shuffle plan.
        */
      def effectiveCeiling(maxDictBytes: Long, maxResultSize: Long, maxHeap: Long): Long = {
        val collectBudget = if (maxResultSize <= 0) Long.MaxValue else maxResultSize
        val buildBudget = maxHeap / 2 / HashedRelationExpansion
        math.min(maxDictBytes, math.min(collectBudget, buildBudget))
      }

      /** Default payload-to-dictionary crossover, calibrated from the
        * r16/r17 measured A/B (SCALE.md r17 ledger):
        * on q135's stage the sf1 corpus measures ratio 2219 and the
        * un-hinted verify WINS (6.50 vs 7.92 s), the sf3 corpus measures
        * 6698 and the un-hinted plan DNFs where broadcast runs in ~30-42 s
        * — so the crossover lies inside [2219, 6698] and the default sits
        * near the bracket's geometric midpoint (√(2219·6698) ≈ 3855).
        */
      val MinPayloadRatio: Double = 4000.0
    }

    /** Compatibility: `broadcastDict = true/false` call sites keep their
      * meaning (true = [[Broadcast]], false = [[Shuffle]]).
      */
    implicit def fromBoolean(b: Boolean): DictHint = if (b) Broadcast else Shuffle
  }

  /** [[DictHint.Shuffle]] PINS the verify to a sort-merge join
    * (`hint("merge")`) — mere absence of the broadcast hint is not the
    * escape: on lineages whose size estimates undershoot (generated or
    * freshly-cached frames with no file-scan stats), the planner
    * re-broadcasts the dictionary on its own and re-introduces the exact
    * collect OOM the escape exists to avoid (observed in the
    * [[graft.DictNecessity]] demo: the "un-hinted" 360 MB dictionary was
    * estimated under the 64 MB threshold and died at broadcast build).
    */
  private def hinted(df: DataFrame, broadcastDict: Boolean): DataFrame =
    if (broadcastDict) broadcast(df) else df.hint("merge")

  /** Resolve a [[DictHint]] to hint-or-not for one verify stage.
    * `dict` must be the stage's (cached) dictionary frame, `setSize` its
    * element-count column, and `estCandidates` the stage-specific
    * candidate-volume estimator (evaluated lazily — only Auto under the
    * byte ceiling pays for it).
    */
  private def resolveDictHint(
      hint: DictHint,
      dict: DataFrame,
      setSize: Column,
      estCandidates: => Long
  ): Boolean = hint match {
    case DictHint.Broadcast => true
    case DictHint.Shuffle   => false
    case a: DictHint.Auto =>
      val row = dict.agg(count(lit(1)).as("n"), avg(setSize).as("l")).head()
      val n = row.getLong(0)
      if (n == 0L) true // empty dictionary broadcasts trivially
      else {
        val setBytes = row.getDouble(1) * 8.0
        val dictBytes = n.toDouble * (setBytes + 48.0)
        val ceiling = DictHint.Auto.effectiveCeiling(
          a.maxDictBytes,
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            dict.sparkSession.conf.get("spark.driver.maxResultSize", "1g")),
          Runtime.getRuntime.maxMemory)
        if (dictBytes > ceiling.toDouble) false
        else estCandidates.toDouble * 2.0 * setBytes >= a.minPayloadRatio * dictBytes
      }
  }

  /** Σ c·(c−1)/2 over the frequency of `keyCol` in `postings` — the
    * pre-filter self-join volume estimator [[DictHint.Auto]] feeds on
    * (exact for a self-join on the key; an upper bound on what survives
    * the candidate-stage filters).
    */
  private def selfJoinVolume(postings: DataFrame, keyCol: String): Long =
    postings
      .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)))
      .head().getLong(0)

  /** Exact dedup: one surviving doc_id (min) per normalized-content
    * fingerprint, plus the duplicate count. At scale: a single hash
    * aggregation with map-side partial combine.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("copies"))

  /** Portable 64-bit shingle hash (md5-prefix), replicable in the DuckDB
    * oracle: conv(substr(md5(s),1,15),16,10). Hashing shingles to longs
    * before set ops shrinks shuffle payloads ~4x and makes array_intersect
    * integer-keyed; a 60-bit space makes collisions (which would perturb
    * Jaccard) negligible at any realistic block size.
    */
  def shingleHash64(s: Column): Column = graft.plans.HashExpressions.md5Prefix60(s)

  /** The functions._ formulation shingleHash64 is value-identical to (kept
    * for the bit-equality regression test).
    */
  def shingleHash64Hof(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** MinHash + LSH banding: returns candidate near-duplicate pairs
    * (id_a < id_b) with their verified n-gram Jaccard similarity.
    *
    * numHashes = bands * rowsPerBand. Each doc emits `bands` bucket keys;
    * docs sharing any bucket become candidates; candidates are verified with
    * exact Jaccard on the shingle sets. The explode-on-bands keeps the
    * shuffle linear in corpus size; the quadratic blowup is confined to
    * within-bucket groups, which the banding makes small by construction.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      broadcastDict: DictHint = DictHint.Broadcast
  ): DataFrame = {
    // the signature table feeds three plan branches (banding + both sides
    // of the candidate verify); cache it instead of recomputing the
    // tokenize/shingle/hash subtree per branch. At production scale this
    // table is persisted to storage once and reused across dedup runs.
    val withSig = graft.core.Caching.cached(sigTable(df, idCol, textCol, shingleSize, bands * rowsPerBand))
    val banded = bandTable(withSig, bands, rowsPerBand)

    val a = banded.select(col("bucket").as("ba"), col("doc_id").as("id_a"))
    val b = banded.select(col("bucket").as("bb2"), col("doc_id").as("id_b"))
    val cand = a
      .join(b, a("ba") === b("bb2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // verify candidates only: the shingle DICTIONARY broadcasts into both
    // joins (the q135/q149 verify pattern — the candidate stream, which
    // dominates on a dense near-dup corpus, never re-exchanges its pair
    // rows through a sort), and |A∩B| is one allocation-free merge walk
    // over the ascending-sorted arrays instead of two array_intersect
    // materializations per pair. Same integer intersection, same union
    // arithmetic — the jaccard double (and the oracle hash) is unchanged.
    // A corpus whose dictionary outgrows the broadcast ceiling passes
    // broadcastDict=Shuffle and pays the wide exchange across the fleet
    // (spec-proven hash-equal); Auto measures the banded-bucket volume
    // and the signature-table size and picks (see [[DictHint.Auto]]).
    val bd = resolveDictHint(broadcastDict, withSig, size(col("shingles")),
      selfJoinVolume(banded, "bucket"))
    val shA = withSig.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val shB = withSig.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    withSortedJaccard(cand.join(hinted(shA, bd), "id_a").join(hinted(shB, bd), "id_b"))
      .filter(col("jaccard") >= minJaccard)
      // raw (unrounded) jaccard: callers floor-scale for hash-stable output
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Adds the exact Jaccard of the `sh_a`/`sh_b` shingle arrays of
    * candidate pairs as `jaccard`. Both arrays must be [[sigTable]]
    * shingles (ascending, distinct, non-null), so it is one
    * allocation-free merge walk per use: a threshold filter the optimizer
    * pushes into the verify join walks each pair once, the projection
    * once. Same integer intersection and union arithmetic as [[jaccard]],
    * so the double is bit-identical.
    */
  private def withSortedJaccard(pairs: DataFrame): DataFrame =
    pairs.withColumn("jaccard", graft.plans.SetExpressions.sortedJaccard(col("sh_a"), col("sh_b")))

  /** The MinHash signature table: (doc_id, shingles, sig) per doc with at
    * least one shingle. `shingles` are the doc's distinct md5-prefix
    * n-gram hashes ([[graft.plans.ShingleHash60]] — tokens stream straight
    * into the digest, no shingle strings materialized), stored
    * ASCENDING-sorted (set semantics — order is free; the minhash fold is
    * order-independent) so a verify intersection is a single merge walk;
    * `sig` is their `numHashes`-slot MinHash. The persistable LSH index
    * state, and the one builder behind [[minhashLsh]], [[crossCorpusLsh]],
    * the incremental index ([[lshIndexBuild]], [[lshProbeAndAppend]]) and
    * q35 — so the oracle replays one hash chain for all of them.
    *
    * Tokens are bound as a real column before any HOF stage — interpreted
    * lambdas re-evaluate their subtrees per element, so chaining the
    * expressions inline would re-tokenize per shingle (measured ~10x).
    */
  private[graft] def sigTable(df: DataFrame, idCol: String, textCol: String, shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        sort_array(array_distinct(graft.plans.HashExpressions.shingleHash60(col("__toks"), shingleSize))).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("shingles"), numHashes))

  /** The band table of a [[sigTable]]: (doc_id, bucket), one row per band.
    * It carries only the two narrow columns, so the explode never
    * replicates the shingle payload through a shuffle. The bucket key is
    * hash-free — "b:sig[rb],..,sig[rb+r-1]", the band index and its
    * signature slice — so the oracle reproduces it with string
    * concatenation.
    */
  private[graft] def bandTable(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(
      col("doc_id"),
      explode(array((0 until bands).map(b =>
        concat_ws(":", lit(b), concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)).as("bucket"))

  /** MinHash over pre-hashed shingles: hash_i(h) = (a_i * (h mod p) + b_i)
    * mod p — fused codegen loop (plans.MinHashSig), value-identical to the
    * HOF formulation below.
    */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    graft.plans.HashExpressions.minhashSig(hashes, numHashes)

  /** HOF formulation (regression baseline for the codegen expression). */
  def minhashSignatureFromHashesHof(hashes: Column, numHashes: Int): Column = {
    import graft.plans.MinHashSig.{P, a, b}
    val sigs = (0 until numHashes).map { i =>
      array_min(transform(hashes, h => pmod(lit(a(i)) * pmod(h, lit(P)) + lit(b(i)), lit(P))))
    }
    array(sigs: _*)
  }

  /** Exact set Jaccard between two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Portable 60-bit SimHash over tokens: bit j of the sketch is set when
    * the sum of +1/-1 votes from each token's md5-prefix hash bit j is
    * positive — fully replicable in the SQL oracle. Empty docs sketch to
    * 0. Backed by the fused codegen [[graft.plans.SimHash60]]
    * (the interpreted HOF evaluated a 60-branch lambda per token — see
    * [[simhash60Hof]], kept as the parity regression baseline).
    */
  def simhash60(text: Column): Column =
    graft.plans.HashExpressions.simhash60(TextAnalysis.tokens(text))

  /** HOF formulation of [[simhash60]] (regression baseline for the codegen
    * expression — value-identical).
    */
  def simhash60Hof(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(text), w => shingleHash64(w))
    val counters = aggregate(
      hashes,
      array_repeat(lit(0), 60),
      (acc, h) =>
        zip_with(
          acc,
          array((0 until 60).map(j => when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)): _*),
          (x, y) => x + y
        )
    )
    (0 until 60)
      .map(j => when(element_at(counters, j + 1) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
  }

  /** SimHash near-dup grouping: docs with identical 60-bit sketches
    * (Hamming 0), one keeper (min id) per sketch. For Hamming <= k see
    * [[simhashNearDup60]].
    */
  def simhashDuplicates60(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), simhash60(col(textCol)).as("simhash60"))
      .groupBy("simhash60")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("copies"))

  /** SimHash near-dups within Hamming distance <= maxHamming, at scale:
    * band the 60 sketch bits into (maxHamming+1) chunks — by pigeonhole,
    * any pair within the distance agrees exactly on at least one chunk —
    * join on (chunk index, chunk value), then verify candidates with
    * bit_count(xor) ([[bandedSketchPairs]]). Shuffle is linear in corpus x
    * chunks; quadratic work only inside identical-chunk groups. The
    * banding is an exact-recall filter, so the OUTPUT is exactly
    * {pairs : hamming(sk_a, sk_b) <= maxHamming} — which is why the DuckDB
    * oracle can verify it with a plain all-pairs bit_count at test scale
    * without replicating the banding.
    */
  def simhashNearDup60(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      minChunkBits: Int = MinChunkBits
  ): DataFrame =
    bandedSketchPairs(
      df.select(col(idCol).as("doc_id"), simhash60(col(textCol)).as("sk")),
      60, maxHamming, minChunkBits)

  /** Scale guard for the pigeonhole banding: expected candidate pairs are
    * ~ chunks * n^2 / 2^bitsPer (uniform sketches), so the chunk width is
    * the whole fight against the quadratic term. 12-bit chunks cut the
    * all-pairs volume by 4096x — at n = 10^9 docs that is still ~10^14
    * candidates, so large corpora must ALSO pre-block (e.g. by language or
    * length bucket) before banding; below 12 bits the cut (<= 1024x at 10,
    * 32x at 5) makes the join effectively all-pairs at any interesting n.
    * Callers that knowingly run small fixtures can lower [[MinChunkBits]]
    * explicitly; the default refuses budgets that shrink chunks below it.
    */
  val MinChunkBits = 12

  /** Exact-recall Hamming pairing over ANY precomputed bit sketch (text
    * SimHash, image dHash, audio fingerprint …): pigeonhole banding into
    * `maxHamming + 1` chunks — a pair within the budget must agree on at
    * least one chunk — then a bit_count verify, so the output is exactly
    * {pairs : hamming <= maxHamming} with no all-pairs join. `sketched`
    * must have columns `doc_id` and `sk` (LongType sketch). The chunk-width
    * scale guard is the same as [[simhashNearDup60]]'s (see [[MinChunkBits]]).
    */
  def bandedSketchPairs(
      sketched0: DataFrame,
      sketchBits: Int,
      maxHamming: Int,
      minChunkBits: Int = MinChunkBits
  ): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = sketchBits / chunks
    require(bitsPer > 0, s"maxHamming=$maxHamming too large for a $sketchBits-bit sketch")
    require(
      bitsPer >= minChunkBits,
      s"maxHamming=$maxHamming on a $sketchBits-bit sketch gives ${chunks} chunks of $bitsPer bits — " +
        s"candidate pairs ~ n^2/${1L << bitsPer} per chunk position, effectively all-pairs at scale. " +
        s"Use maxHamming <= ${sketchBits / minChunkBits - 1}, or pass minChunkBits explicitly for small corpora."
    )
    // ADVICE r15: (1L << 64) wraps to 1 in JVM shift semantics, so the
    // naive mask is 0 for the 64-bit single-chunk case (maxHamming = 0 on
    // a 64-bit sketch) — every chunk value and the firstAgree predicate
    // would trivially match, degenerating to an all-pairs equi-join. A
    // full-width mask keeps that case an exact whole-sketch equality join.
    val mask = if (bitsPer >= 64) -1L else (1L << bitsPer) - 1
    val sketched = graft.core.Caching.cached(sketched0.select(col("doc_id"), col("sk")))
    val banded = sketched.select(
      col("doc_id"),
      col("sk"),
      explode(
        array((0 until chunks).map { c =>
          // chunk value tagged with its index so chunks only match same-position chunks
          struct(lit(c).as("c"), shiftrightunsigned(col("sk"), c * bitsPer).bitwiseAND(lit(mask)).as("v"))
        }: _*)
      ).as("chunk")
    )
    val a = banded.select(col("chunk").as("ca"), col("doc_id").as("id_a"), col("sk").as("sk_a"))
    val b = banded.select(col("chunk").as("cb"), col("doc_id").as("id_b"), col("sk").as("sk_b"))
    // MINIMAL-MATCH rule (the q135 candidate-emission fix, applied to chunk
    // banding): a pair within the Hamming budget agrees on up to `chunks`
    // chunk positions and would emit once per agreement; instead of
    // collapsing the multiplicity with a distinct EXCHANGE (32 bytes per
    // emitted row through a shuffle), the join condition keeps only the
    // match at the FIRST agreeing chunk index — computable row-locally
    // from the two sketches already in the join output (a when-chain of
    // bitwise tests over sk_a XOR sk_b, codegen'd). Every matched pair has
    // >= 1 agreeing chunk by construction, so exactly one row survives per
    // pair and the distinct stage is deleted outright.
    val xorSk = col("sk_a").bitwiseXOR(col("sk_b"))
    val firstAgree = (0 until chunks).reverse.foldLeft(lit(-1)) { (acc, c) =>
      when(shiftrightunsigned(xorSk, c * bitsPer).bitwiseAND(lit(mask)) === 0, lit(c)).otherwise(acc)
    }
    a.join(b, a("ca") === b("cb") && col("id_a") < col("id_b") && a("ca").getField("c") === firstAgree)
      .withColumn("hamming", bit_count(xorSk))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** DUPLICATE GROUPS from a near-dup PAIR list: connected components by
    * iterative min-label propagation — every document in a component gets
    * the component's smallest doc id as `group_id` (the canonical-keeper
    * convention exact dedup already uses). Pairs are what the banding
    * operators emit; transitive chains (A~B, B~C, A!~C) only become
    * droppable groups once components are materialized.
    *
    * Scale shape: each round is neighbor-min propagation (one join + one
    * aggregation on the symmetric edge list) followed by one pointer-jump
    * (lbl := lbl(lbl), the path-doubling step of hash-to-min / Kiveris et
    * al.), so rounds grow with log(diameter), not diameter — a 100-node
    * chain converges in ~8 rounds instead of 99. Each round's lineage is
    * truncated with an eager checkpoint so the plan doesn't grow with
    * rounds; pass `checkpointDir` to use RELIABLE checkpoints (survive
    * executor loss — the right choice for an hours-long run) instead of
    * the default executor-memory `localCheckpoint`. Convergence is
    * detected by a codegen `__chg` boolean column carried on the
    * checkpointed frame (round-18: the previous LongAccumulator ran every
    * row through a deserializing Dataset.map): the eager checkpoint is
    * still the round's one materializing job, and a second, cheap
    * scan-only probe (`filter(__chg).limit(1).isEmpty`) then reads the
    * checkpointed partitions — recomputing nothing — to decide
    * convergence. Flag-on-data is also immune to the task-retry
    * double-count hazard accumulators carry.
    */
  def duplicateGroups(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 50,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val sym = materialize(
      edges.union(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    )
    var labels = sym.select(col("src").as("id")).distinct().withColumn("lbl", col("id"))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("lbl")).as("nlbl"))
      val prop = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(
          labels("id"),
          labels("lbl").as("old"),
          least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("l1")
        )
      // pointer-jump: l2(v) = l1(l1(v)). Every min-label is itself a node id
      // present in `prop`, so the inner join preserves all rows.
      val hop = prop.select(col("id").as("jid"), col("l1").as("jlbl"))
      // convergence flag as a codegen column (round-18, guide §4 "prefer
      // built-in expressions"): the previous accumulator ran every row
      // through a deserializing Dataset.map each round — off the
      // whole-stage-codegen path for the loop's entire payload. The flag
      // rides the eager checkpoint (the round's only job); the follow-up
      // any-changed probe scans the checkpointed partitions, recomputing
      // nothing.
      val jumped = prop
        .join(hop, prop("l1") === hop("jid"))
        .select(prop("id"), hop("jlbl").as("lbl"), (hop("jlbl") =!= prop("old")).as("__chg"))
      val mat = materialize(jumped) // the eager checkpoint IS the round's only job
      converged = mat.filter(col("__chg")).limit(1).isEmpty
      labels = mat.select(col("id"), col("lbl"))
      it += 1
    }
    require(converged, s"component labeling did not converge in $maxIters rounds — raise maxIters")
    labels.select(col("id").as("doc_id"), col("lbl").as("group_id"))
  }

  /** Pairwise n-gram Jaccard within explicit blocks (e.g. same source+lang) —
    * the exact-verification / small-block strategy. Blocks bound the
    * quadratic term; at 100 TB the blocking key must keep groups << 10^5.
    */
  /** `hotShingleCap`: the degenerate-corpus guard promised in SCALE.md —
    * a shingle occurring in k documents of a block contributes k^2 rows to
    * the postings self-join, so one boilerplate phrase shared by 1% of a
    * 10^8-doc block is a 10^12-row join all by itself. With a cap, shingles
    * whose per-block document frequency exceeds it are dropped from the
    * POSTINGS (set sizes stay exact), making the reported jaccard a LOWER
    * BOUND and the join linear again. Recall trade, stated precisely: a
    * pair is missed only if its overlap above `minJaccard` depends on
    * capped shingles — near-universal shingles carry no dedup signal, which
    * is why dropping them is the standard play. None (default) = exact.
    */
  def jaccardPairsWithinBlocks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 3,
      minJaccard: Double = 0.3,
      hotShingleCap: Option[Int] = None
  ): DataFrame = {
    // Inverted-index formulation: explode (block, doc, shingle) postings,
    // self-join on (block, shingle) so ONLY pairs sharing >=1 shingle ever
    // materialize, and compute |A∩B| by counting co-occurrences — no
    // array_intersect, no all-pairs cross product. For a minJaccard > 0
    // threshold this is result-identical to the naive formulation (a pair
    // with empty intersection has J=0) while doing ~10x less work on
    // sparse-overlap corpora; at 100 TB it is the only shape that survives,
    // since the shuffle is linear in total postings, not quadratic in block
    // size.
    require(minJaccard > 0, "inverted-index Jaccard requires a positive threshold")
    val base = graft.core.Caching.cached(
      df
        .select(blockCols.map(col) :+ col(idCol).as("doc_id") :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
        .select(
          blockCols.map(col) :+ col("doc_id") :+
            array_distinct(graft.plans.HashExpressions.shingleHash60(col("__toks"), shingleSize)).as("sh"): _*
        )
      // feeds postings (twice) + sizes (twice): cache beats 4x recompute
    )
    val sizes = base.select(blockCols.map(col) :+ col("doc_id") :+ size(col("sh")).as("sz"): _*)
    val allPostings = base.select(blockCols.map(col) :+ col("doc_id") :+ explode(col("sh")).as("s"): _*)
    // stop-shingle cap: one linear aggregation over the postings finds the
    // hot shingles; an anti join drops them BEFORE the quadratic self-join
    val postings = hotShingleCap match {
      case None => allPostings
      case Some(cap) =>
        require(cap >= 1, "hotShingleCap must be >= 1")
        val hot = allPostings
          .groupBy(blockCols.map(col) :+ col("s"): _*)
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap)
          .select(blockCols.map(col) :+ col("s"): _*)
        allPostings.join(hot, blockCols :+ "s", "left_anti")
    }
    val pa = postings.toDF(postings.columns.map(c => if (c == "doc_id") "id_a" else c).toIndexedSeq: _*)
    val pb = postings.toDF(postings.columns.map(c => if (c == "doc_id") "id_b" else c).toIndexedSeq: _*)
    val inter = pa
      .join(pb, blockCols :+ "s")
      .filter(col("id_a") < col("id_b"))
      .groupBy(blockCols.map(col) :+ col("id_a") :+ col("id_b"): _*)
      .agg(count(lit(1)).as("inter"))
    val sa = sizes.select(blockCols.map(col) :+ col("doc_id").as("id_a") :+ col("sz").as("la"): _*)
    // ids are only guaranteed unique WITHIN a block (blockCols may encode the
    // source), so the size lookup must carry the block key on BOTH sides —
    // joining sb on id alone would cross-match same-id docs across blocks
    val sb = sizes.select(blockCols.map(col) :+ col("doc_id").as("id_b") :+ col("sz").as("lb"): _*)
    inter
      .join(sa, blockCols :+ "id_a")
      .join(sb, blockCols :+ "id_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("la") + col("lb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select((blockCols.map(col) :+ col("id_a")) :+ col("id_b") :+ col("jaccard"): _*)
  }

  /** ASYMMETRIC CONTAINMENT SELF-JOIN — the directional cousin of
    * [[jaccardPairsWithinBlocks]]: containment C(A in B) = |A∩B| / |A|
    * detects a document mostly CONTAINED in another (quotes, excerpts,
    * page-within-site, prompt-in-completion) that symmetric Jaccard
    * misses when the container is much larger (J stays small while
    * C(A in B) -> 1). Emits both directions per pair; pairs survive when
    * either direction reaches `minContainment`.
    *
    * Candidate generation is PREFIX-FILTERED (the AllPairs/PPJoin rule
    * adapted to the containment threshold), replacing the raw postings
    * self-join whose candidate volume was Σ over shingles of df² — a
    * corpus-wide boilerplate shingle shared by 1M docs would alone emit
    * 10¹² candidate rows. The exact rule: the surviving condition
    * max(C(A in B), C(B in A)) >= t is equivalent to
    * |A∩B| >= ceil(t · min(|A|, |B|)); with A the SMALLER side and
    * r = ceil(t·|A|), any B sharing >= r elements with A must (pigeonhole)
    * share >= thr of A's first |A| − r + thr elements in ANY fixed
    * ordering of A. So candidates come from joining each doc's PREFIX
    * (rarest-first order — df ascending, element ascending — which
    * minimizes fan-out) against the FULL postings of not-smaller docs,
    * counting matches per pair, then an exact intersection verify on the
    * surviving candidates only. No recall loss: the pigeonhole bound is
    * order-independent; the rarest-first order is purely a cost choice
    * that keeps corpus-wide hot shingles OUT of every large doc's prefix,
    * so candidate volume follows the rare-element df mass (near-linear)
    * instead of the hot-element df².
    *
    * Under a `hotShingleCap`, elements with df above the cap are dropped
    * from the element space BEFORE ordering, so the prefix, the
    * intersection and the denominators |A|/|B| all see the same reduced
    * space and the ratios stay internally consistent (ADVICE r10: mixing
    * capped intersections with full-set sizes made both ratios lower
    * bounds with unstated recall loss). With the prefix filter the cap is
    * no longer load-bearing for scale — it remains available as a
    * semantic knob (judge near-dups on non-boilerplate content).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      minContainment: Double = 0.5,
      hotShingleCap: Option[Int] = None,
      broadcastDict: DictHint = DictHint.Broadcast
  ): DataFrame = {
    val ordered = containmentOrdered(df, idCol, textCol, shingleSize, minContainment, hotShingleCap)
    val cand = containmentCandidates(ordered)
    // Auto estimator: the candidate stage joins PREFIX postings against
    // FULL postings, so the pre-filter volume is Σ_e prefix-df(e)·df(e)
    // (includes each doc's self-match — an upper bound, consistent across
    // scales).
    def prefixFullVolume: Long = {
      val pc = ordered.select(explode(expr("slice(se, 1, p)")).as("e"))
        .groupBy(col("e")).agg(count(lit(1)).as("pc"))
      val fc = ordered.select(explode(col("se")).as("e"))
        .groupBy(col("e")).agg(count(lit(1)).as("fc"))
      pc.join(fc, "e")
        .agg(coalesce(sum(col("pc") * col("fc")), lit(0L)))
        .head().getLong(0)
    }
    val bd = resolveDictHint(broadcastDict, ordered, col("len"), prefixFullVolume)
    // verify: the doc dictionary BROADCASTS into both joins (q135's verify
    // pattern — the candidate stream never re-exchanges its pair rows), and
    // |A∩B| is one allocation-free merge walk over numerically re-sorted
    // copies of the element arrays (`se` is rarest-first for the prefix;
    // set intersection is order-free, so the per-dict-row sort is pure
    // cost-shaping and the count — and the oracle hash — is unchanged).
    // broadcastDict=Shuffle drops the hint for over-ceiling dictionaries;
    // Auto measures and picks (see [[DictHint.Auto]]).
    cand
      .join(hinted(ordered.select(col("doc_id").as("id_a"), sort_array(col("se")).as("sa"), col("len").as("la")), bd), "id_a")
      .join(hinted(ordered.select(col("doc_id").as("id_b"), sort_array(col("se")).as("sb"), col("len").as("lb")), bd), "id_b")
      .withColumn("inter", graft.plans.SetExpressions.sortedIntersectCount(col("sa"), col("sb")).cast("long"))
      .withColumn("cab", col("inter").cast("double") / col("la"))
      .withColumn("cba", col("inter").cast("double") / col("lb"))
      .filter(greatest(col("cab"), col("cba")) >= minContainment)
      .select(
        col("id_a"), col("id_b"),
        floor(col("cab") * 10000).cast("long").as("cont_ab_e4"),
        floor(col("cba") * 10000).cast("long").as("cont_ba_e4")
      )
  }

  /** [[containmentPairs]] phase 1: per doc, the rarest-first (df asc,
    * element asc) ordered element array `se`, its length `len`, and the
    * containment prefix length `p` = len − ceil(t·len) + 1 (clamped at 0
    * for t > 1, where no pair can qualify). Cached: feeds the prefix
    * explode, the full-postings explode and both sides of the verify.
    */
  private[graft] def containmentOrdered(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      minContainment: Double,
      hotShingleCap: Option[Int]
  ): DataFrame = {
    require(minContainment > 0, "prefix-filtered containment requires a positive threshold")
    val toks = df
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        explode(array_distinct(graft.plans.HashExpressions.shingleHash60(col("__toks"), shingleSize))).as("e"))
    // document frequency: one vocab-bounded aggregation; the cap (if any)
    // drops hot elements from the space right here, so ordering, sizes and
    // verify all agree on the reduced space
    val dfreq0 = toks.groupBy(col("e")).agg(count(lit(1)).as("df"))
    val dfreq = hotShingleCap match {
      case None => dfreq0
      case Some(cap) =>
        require(cap >= 1, "hotShingleCap must be >= 1")
        dfreq0.filter(col("df") <= cap)
    }
    graft.core.Caching.cached(
      toks
        .join(dfreq, "e")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("e")))).as("o"))
        .select(
          col("doc_id"),
          expr("transform(o, x -> x.e)").as("se"),
          size(col("o")).cast("long").as("len"))
        // rq = ceil(t·len), the overlap a pair must reach when this doc is
        // the smaller side. thr is the EXTENDED-prefix match requirement
        // (capped at 5, floored at 1, never above rq/2 so tiny docs keep
        // the classic single-match prefix and hot elements stay out of
        // their prefixes); p = len − rq + thr is the matching prefix
        // length (clamped at 0 for t > 1, where no pair can qualify).
        // Exact by pigeonhole: at most len − p = rq − thr shared elements
        // can sit outside the prefix, so a qualifying pair (inter >= rq)
        // shares >= thr prefix elements.
        .withColumn("rq", ceil(lit(minContainment) * col("len")))
        .withColumn("thr", least(lit(5L), greatest(lit(1L), expr("rq div 2"))))
        .withColumn("p", greatest(col("len") - col("rq") + col("thr"), lit(0L)).cast("int"))
    )
  }

  /** [[containmentPairs]] phase 2 (exposed for the DedupSpec scale guard):
    * candidate pairs from the prefix-vs-full-postings join. The probe side
    * ships only each doc's p prefix elements; the build side is the full
    * postings with the doc length attached; the `plen < flen` constraint
    * applies the rule with the smaller doc as A (equal lengths break by
    * id so each unordered pair generates once).
    *
    * Candidates must share >= thr EXTENDED-prefix elements of the smaller
    * side, not just one: the prefix is lengthened by thr − 1 elements (a
    * handful of extra low-df postings) and the match count per (A, B)
    * replaces the plain distinct. On a dense element space — where
    * single-element prefix filtering is weak because every element is
    * common — this is the difference between candidates ~ true pairs and
    * candidates ~ Σ prefix-df (sf1 measured: 45.6M single-match
    * candidates → 0.25M at thr = 5, the true pair count). The count
    * aggregation costs the same shuffle the distinct already paid.
    */
  private[graft] def containmentCandidates(ordered: DataFrame): DataFrame = {
    val prefixes = ordered.select(
      col("doc_id").as("pid"), col("len").as("plen"), col("thr"),
      explode(expr("slice(se, 1, p)")).as("e"))
    val fullPost = ordered.select(
      col("doc_id").as("fid"), col("len").as("flen"), explode(col("se")).as("e"))
    prefixes
      .join(fullPost, Seq("e"))
      .filter(col("plen") < col("flen") || (col("plen") === col("flen") && col("pid") < col("fid")))
      .groupBy(col("pid"), col("fid"), col("thr"))
      .agg(count(lit(1)).as("__m"))
      .filter(col("__m") >= col("thr"))
      .select(least(col("pid"), col("fid")).as("id_a"), greatest(col("pid"), col("fid")).as("id_b"))
  }

  /** Benchmark decontamination: corpus documents sharing >= minOverlap
    * distinct word n-grams with ANY benchmark document (the
    * train/eval-contamination sweep every serious training pipeline runs).
    * Inverted-index formulation: explode both sides to (doc, shingle-hash)
    * postings and join on the hash, so only genuinely-overlapping pairs
    * materialize. At 100 TB the benchmark side is small (eval sets) — its
    * postings broadcast, making this one map-side join over the corpus
    * postings with no corpus shuffle at all.
    */
  def crossCorpusOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      minOverlap: Int = 3
  ): DataFrame = {
    def postings(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId), TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col(outId), explode(array_distinct(graft.plans.HashExpressions.shingleHash60(col("__toks"), shingleSize))).as("s"))
    postings(corpus, "doc_id")
      .join(broadcast(postings(benchmark, "bench_id")), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** CROSS-CORPUS LSH DECONTAMINATION — NEAR-duplicate matches BETWEEN a
    * training corpus and a benchmark suite, the scale path past
    * [[crossCorpusOverlap]]: that operator broadcasts the benchmark's
    * shingle postings (right when the suite fits in executor memory),
    * while this one MinHash-bands BOTH sides (the portable md5-prefix
    * pipeline q37 proves) and equi-joins corpus bands to benchmark bands
    * on the bucket key — a plain shuffled hash join that scales to a
    * benchmark suite of ANY size, shipping only (id, band-key) pairs.
    * Candidates verify by exact Jaccard over the shingle sets, so
    * banding costs recall only (never precision), exactly q37's
    * contract. A paraphrased or lightly-edited benchmark item — which
    * exact n-gram overlap under-counts — still collides in a band.
    * If the suite IS small, AQE broadcasts the banded benchmark side on
    * its own; nothing here pins the join strategy.
    */
  def crossCorpusLsh(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.5
  ): DataFrame = {
    def sigs(df: DataFrame): DataFrame =
      graft.core.Caching.cached(sigTable(df, idCol, textCol, shingleSize, bands * rowsPerBand))
    val cSig = sigs(corpus)
    val bSig = sigs(benchmark)
    val cand = bandTable(cSig, bands, rowsPerBand).select(col("bucket"), col("doc_id").as("corpus_id"))
      .join(
        bandTable(bSig, bands, rowsPerBand).select(col("bucket").as("__bb"), col("doc_id").as("bench_id")),
        col("bucket") === col("__bb"))
      .select("corpus_id", "bench_id")
      .distinct()
    withSortedJaccard(cand
      .join(cSig.select(col("doc_id").as("corpus_id"), col("shingles").as("sh_a")), "corpus_id")
      .join(bSig.select(col("doc_id").as("bench_id"), col("shingles").as("sh_b")), "bench_id"))
      .filter(col("jaccard") >= minJaccard)
      // raw (unrounded) jaccard: callers floor-scale for hash-stable output
      .select(col("corpus_id"), col("bench_id"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate rule — Bayardo, Ma & Srikant, WWW 2007;
    * Xiao et al., WWW 2008): every pair with token-set Jaccard >=
    * tNum/tDen, with NO recall loss and NO all-pairs join.
    *
    * The theorem: order all tokens canonically (rarest-first here — df
    * ascending, token ascending — which minimizes candidate fan-out);
    * with prefix length p(x) = |x| - ceil(t*|x|) + 1, any pair with
    * J >= t must share at least one PREFIX token. So candidates come from
    * an inverted index over prefixes only, then an exact verify keeps
    * {pairs : J >= t} — the banding-free exact twin of the MinHash/LSH
    * family (those trade recall for speed; this trades nothing and prunes
    * by frequency structure instead).
    *
    * The threshold is a RATIONAL tNum/tDen and both the prefix length and
    * the verify (inter * tDen >= tNum * union) are integer arithmetic —
    * no float threshold coupling anywhere, so the oracle's plain all-pairs
    * replay matches bit-for-bit.
    *
    * Scale shape: df is one vocab-bounded aggregation; each doc ships only
    * its p prefix tokens into the candidate join (p is small at high t —
    * |x|/tDen-ish); the verify joins token arrays by id — two hash joins
    * on the candidate set, never on the corpus square. Candidate emission
    * is bounded to ONE ROW PER PAIR by the minimal-match rule (see
    * [[jaccardCandidates]]) — the fix for the round-15 sf3 finding where a
    * corpus of dense replica families emitted every shared prefix element
    * per pair (~10^9 rows) into the dedup exchange and died in sort spill.
    */
  def jaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tNum: Long,
      tDen: Long,
      shingleSize: Int = 0,
      broadcastDict: DictHint = DictHint.Broadcast
  ): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"jaccardPairsPrefix: threshold $tNum/$tDen not in (0, 1]")
    val sets = jaccardSets(docs, idCol, textCol, shingleSize)
    val ordered = jaccardOrdered(sets, tNum, tDen)
    val cand = jaccardCandidates(ordered, tNum, tDen)
    // Auto estimator: candidates come from the prefix-postings self-join,
    // so the pre-filter volume is Σ_e prefix-df(e)·(prefix-df(e)−1)/2.
    val bd = resolveDictHint(broadcastDict, sets, size(col("s")),
      selfJoinVolume(ordered.select(explode(expr("slice(sorted_elems, 1, p)")).as("e")), "e"))
    // verify: the doc dictionary BROADCASTS into both joins, so the
    // candidate stream (which on a dense-replica corpus is the dominant
    // volume — 180M pairs at sf3) never re-exchanges: carrying the two
    // element arrays through a sort-merge exchange is ~0.5 KB per pair, an
    // ~84 GB sort at sf3 (the round-15 DNF's second act). A corpus whose
    // dictionary outgrows the broadcast ceiling passes
    // broadcastDict=Shuffle and pays the wide exchange across the fleet —
    // per-executor volume stays flat (the un-hinted plan is spec-proven
    // hash-equal and timed at sf1 in SCALE.md); Auto measures and picks
    // (see [[DictHint.Auto]]).
    // The intersection is a merge walk over the pre-sorted arrays
    // ([[graft.plans.SetExpressions.sortedIntersectCount]]) — zero per-pair
    // allocation where array_intersect built a throwaway array each pair.
    val verified = cand
      .join(hinted(sets.select(col("doc_id").as("id_a"), col("s").as("sa")), bd), "id_a")
      .join(hinted(sets.select(col("doc_id").as("id_b"), col("s").as("sb")), bd), "id_b")
      .withColumn("inter", graft.plans.SetExpressions.sortedIntersectCount(col("sa"), col("sb")).cast("long"))
      .withColumn("un", size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("inter"))
      .filter(col("inter") * tDen >= col("un") * tNum)
    verified.select(
      col("id_a"), col("id_b"),
      floor(lit(10000.0) * (col("inter").cast("double") / col("un").cast("double"))).cast("long").as("jaccard_e4")
    )
  }

  /** [[jaccardPairsPrefix]] element-set stage: unigram tokens
    * (shingleSize <= 1) or n-gram shingle hashes — the sparse element space
    * prefix filtering wants (a bounded natural-language vocabulary makes
    * unigram prefixes unselective; see the q135 threshold history). Cached:
    * both the candidate stage and the verify consume it.
    */
  private[graft] def jaccardSets(docs: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    val elems =
      if (shingleSize <= 1) array_distinct(TextAnalysis.tokens(col(textCol)))
      else array_distinct(graft.plans.HashExpressions.shingleHash60(TextAnalysis.tokens(col(textCol)), shingleSize))
    // stored ASCENDING-sorted (set semantics — order is free) so the verify
    // intersection is a merge walk, not a per-pair hash build
    graft.core.Caching.cached(
      docs.select(col(idCol).cast("long").as("doc_id"), sort_array(elems).as("s")).filter(size(col("s")) > 0)
    )
  }

  /** [[jaccardPairsPrefix]] ordering stage: canonical rarest-first order
    * (df ascending, element ascending — one vocab-bounded aggregation) and
    * the exact integer prefix length p = len - ceil(t*len) + 1.
    */
  private[graft] def jaccardOrdered(sets: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val toks = sets.select(col("doc_id"), explode(col("s")).as("e"))
    val dfreq = toks.groupBy(col("e")).agg(count(lit(1)).as("df"))
    toks
      .join(dfreq, "e")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("e")))).as("o"))
      .select(
        col("doc_id"),
        expr("transform(o, x -> x.e)").as("sorted_elems"),
        size(col("o")).cast("long").as("len")
      )
      .withColumn("p", (col("len") - expr(s"(${tNum}L * len + ${tDen - 1}L) div ${tDen}L") + lit(1L)).cast("int"))
  }

  /** [[jaccardPairsPrefix]] candidate stage (exposed for the DedupSpec
    * emission guard): prefix-postings self-join under the MINIMAL-MATCH
    * rule — each candidate pair materializes from exactly ONE of its
    * shared prefix elements, so no distinct/aggregation exchange follows
    * the join at all.
    *
    * The rule: emit the match at element e only when the two docs share
    * NOTHING before it — each posting carries the elements preceding its
    * position in the doc's canonical (rarest-first) order, and the join
    * condition requires those before-sets disjoint
    * ([[graft.plans.SetExpressions.sortedOverlap]], an allocation-free
    * merge walk; the slices are re-sorted numerically at build time so the
    * walk needs no df lookup). Exactness: a qualifying pair's globally
    * minimal shared element lies inside both prefixes (the AllPairs
    * pigeonhole — if it didn't, inter <= ceil(t*len) - 1 < required), its
    * before-sets are disjoint by minimality, and every other shared prefix
    * element sees it in both before-sets — so exactly one row survives per
    * pair. Before the rule, a corpus of dense replica families (ScaleGen's
    * 30-way near-dup construction — the honest stress case) emitted every
    * shared prefix element per pair: ~10^9 rows into the dedup exchange at
    * sf3, >70 GB of sort spill, DNF. The before-slices cost O(p^2/2) longs
    * per DOC shipped once, vs O(p) per PAIR saved — the trade wins
    * precisely when pairs/doc is large, i.e. when it matters.
    *
    * Two further exact prunes ride the same join condition: the length
    * filter (J >= t forces min(len)*tDen >= max(len)*tNum) and PPJoin's
    * POSITIONAL bound — at the minimal match, shared elements are that
    * element plus matches strictly after both positions, so
    * inter <= 1 + min(la - ia, lb - ib); pairs whose bound can't reach the
    * required overlap ceil(tNum*(la+lb)/(tNum+tDen)) drop before verify.
    * (The bound is only valid at a minimal match; non-minimal rows are
    * already killed by the disjointness conjunct, so the conjunction stays
    * exact.)
    */
  private[graft] def jaccardCandidates(ordered: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val prefixes = ordered
      .select(
        col("doc_id"), col("len"), col("sorted_elems"),
        posexplode(expr("slice(sorted_elems, 1, p)")).as(Seq("pos0", "e")))
      .select(
        col("doc_id"), col("len"), col("pos0"), col("e"),
        sort_array(expr("slice(sorted_elems, 1, pos0)")).as("before"))
    val left = prefixes.select(
      col("e"), col("doc_id").as("id_a"), col("len").as("la"), col("pos0").as("ia0"), col("before").as("ba"))
    val right = prefixes.select(
      col("e").as("eb"), col("doc_id").as("id_b"), col("len").as("lb"), col("pos0").as("ib0"), col("before").as("bb"))
    left
      .join(
        right,
        col("e") === col("eb") && col("id_a") < col("id_b") &&
          least(col("la"), col("lb")) * tDen >= greatest(col("la"), col("lb")) * tNum &&
          !graft.plans.SetExpressions.sortedOverlap(col("ba"), col("bb")) &&
          (lit(1L) + least(col("la") - col("ia0") - 1L, col("lb") - col("ib0") - 1L)) * (tNum + tDen) >=
            lit(tNum) * (col("la") + col("lb")))
      .select(col("id_a"), col("id_b"))
  }

  /** CANONICAL REPRESENTATIVE per near-dup group — the last step of the
    * dedup pipeline: pairs → components ([[duplicateGroups]]) → ONE keeper
    * per group, chosen by longest text with ascending-id tie-break (the
    * "keep the most complete copy" convention). Docs in no pair form
    * singleton groups of themselves. Emits the full doc → canonical
    * mapping plus an `is_canonical` flag, so a consumer can either filter
    * to keepers or rewrite references.
    *
    * Scale shape: the keeper choice is a row_number window PARTITIONED BY
    * group (never corpus-wide), and the mapping join shuffles on group_id
    * — both bounded by the component structure the banding already paid
    * for.
    */
  def canonicalPerGroup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"
  ): DataFrame = {
    val groups = duplicateGroups(pairs, aCol, bCol)
    val all = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        length(coalesce(col(textCol), lit(""))).cast("long").as("text_len")
      )
      .join(groups.withColumnRenamed("doc_id", "__gd"), col("doc_id") === col("__gd"), "left")
      .select(col("doc_id"), col("text_len"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id"))
      .orderBy(col("text_len").desc, col("doc_id").asc)
    val ranked = all.withColumn("rn", row_number().over(w))
    val canon = ranked.filter(col("rn") === 1).select(col("group_id"), col("doc_id").as("canonical_id"))
    ranked
      .join(canon, "group_id")
      .select(
        col("doc_id"), col("group_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical")
      )
  }

  /** Bloom-filter decontamination: the compact-broadcast alternative to
    * [[crossCorpusOverlap]]'s postings join. The benchmark corpus folds
    * into an m-bit Bloom bitset ([[graft.plans.BloomFilter.BloomAgg]] —
    * map-side mergeable, one m/8-byte row to the driver, bounded by
    * construction), which then rides a codegen'd membership expression
    * over the corpus n-gram hashes — no join relation on the probe side
    * at all. Per document: distinct n-gram count, Bloom-flagged count
    * (false positives included, deterministically — the oracle replays
    * them), and a `contaminated` verdict at `minHits` flagged n-grams.
    *
    * Trade vs the postings join: the postings join reports WHICH benchmark
    * doc overlaps (attribution); the Bloom screen only answers "is this
    * n-gram anywhere in the eval suite" — but its probe side is a
    * broadcast of m/8 bytes regardless of benchmark size, where postings
    * broadcast grows with the suite. Screen with Bloom at 100 TB, then
    * attribute the survivors with [[crossCorpusOverlap]].
    */
  def bloomDecontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      m: Int = 1 << 18,
      k: Int = 3,
      minHits: Int = 2
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def docHashes(df: DataFrame): DataFrame =
      df.select(
        col(idCol).as("doc_id"),
        explode(
          array_distinct(
            graft.plans.HashExpressions.shingleHash60(TextAnalysis.tokens(col(textCol)), shingleSize)
          )
        ).as("h")
      )
    val bits = graft.plans.BloomFilter.build(docHashes(benchmark).select(col("h")).as[Long], m, k)
    docHashes(corpus)
      .withColumn("hit", graft.plans.BloomFilter.containsColumn(bits, m, k, col("h")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("n_flagged")
      )
      .withColumn("contaminated", col("n_flagged") >= minHits)
  }

  /** Embedding cosine near-dup: pairs above a cosine threshold, blocked by
    * LSH bucket (see Similarity.lshBucket) so the pair join never goes
    * all-pairs.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int = 12,
      minCosine: Double = 0.95,
      dim: Int = 64
  ): DataFrame = {
    // norms are ROW-constants: fold each vector's norm once per row here
    // instead of re-folding both norms for every within-bucket pair (the
    // q86/q156 per-pair defect). `na * nb` keeps norm(a)*norm(b)'s operand
    // order and dot() is the same index-order fold, so the cosine double —
    // and the oracle hash — is bit-identical.
    val bucketed = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      Similarity.lshBucket(col(vecCol), dim, nBits).as("bucket"),
      Similarity.norm(col(vecCol)).as("n")
    )
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = bucketed.select(col("bucket").as("bucket_b"), col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    val nn = col("na") * col("nb")
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", when(nn === 0, lit(0.0)).otherwise(Similarity.dot(col("va"), col("vb")) / nn))
      .filter(col("cosine") >= minCosine)
      // raw (bit-exact index-order fold) cosine: callers floor-scale
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): any k-token span that appears
    * MORE THAN ONCE anywhere in the corpus (any doc, any offset, including
    * within one doc) is removed from every document that contains it.
    * Unlike doc-level dedup this catches boilerplate (headers, licenses,
    * navigation chrome) embedded inside otherwise-unique documents.
    *
    * The paper builds a suffix array; the Spark-native equivalent is the
    * sliding k-gram relation — same duplicated-span result for fixed k,
    * but expressible as scans + aggregations:
    *   1. hash each doc's k-token windows with the FUSED digest
    *      ([[graft.plans.ShingleHash60]]: token bytes stream straight into
    *      MD5, codegen'd) — no window is ever materialized as a string, so
    *      phase 1 moves 8 bytes per window instead of ~k tokens of
    *      transient string mass (the difference between O(corpus) and
    *      O(k·corpus) bytes feeding the first shuffle at 100 TB);
    *   2. find duplicated hashes (8-byte shuffle), then re-verify the
    *      gram STRING only for hash-duplicate candidates — candidate
    *      starts are regrouped per doc so the string materialization is a
    *      single doc-aligned join carrying just the duplicate mass, and a
    *      hash collision can never remove a span two docs don't share;
    *   3. per doc, merge overlapping/adjacent duplicate occurrences into
    *      maximal spans (single window over positions within one doc —
    *      bounded by doc length, never corpus-wide);
    *   4. rebuild the retained text from the surviving token positions
    *      (range anti-join per doc) and fingerprint it.
    *
    * Output: one row per input doc —
    *   (doc_id, n_tokens, n_spans, removed_tokens, kept_tokens,
    *    retained_md5) where retained_md5 is the md5 of the kept tokens
    * joined by single spaces ("" for fully-removed or empty docs; the
    * original inter-token whitespace is not recoverable post-tokenize).
    */
  def dedupSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    require(k >= 2, s"dedupSubstrings: span length k=$k must be >= 2")
    val toks = tokenizedDocs(docs, idCol, textCol)
    val spans = substringDupSpans(toks, k)
    val spanStats = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).cast("long").as("removed"))
    val retained = substringKeptText(toks, spans)
      .select(col("doc_id"), md5(col("kept_text")).as("retained_md5"))
    toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(spanStats, Seq("doc_id"), "left_outer")
      .join(retained, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed"), lit(0L))).as("kept_tokens"),
        coalesce(col("retained_md5"), md5(lit(""))).as("retained_md5")
      )
  }

  /** Retained-TEXT variant of [[dedupSubstrings]]: same corpus-wide
    * duplicated-span removal, but the output carries the surviving tokens
    * themselves (joined by single spaces) so a downstream recipe stage can
    * keep processing the cleaned text — the q97 pipeline's optional
    * boilerplate-strip stage. One row per input doc:
    * (doc_id, kept_text); a fully-removed or empty doc yields "".
    */
  def dedupSubstringsText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    require(k >= 2, s"dedupSubstringsText: span length k=$k must be >= 2")
    val toks = tokenizedDocs(docs, idCol, textCol)
    val kept = substringKeptText(toks, substringDupSpans(toks, k))
    toks
      .select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Blocked fuzzy self-join (entity resolution / near-identical names):
    * all pairs whose names are within `maxDist` Levenshtein edits, found
    * without an all-pairs comparison — candidate pairs must share a
    * BLOCKING KEY (`blockExpr` over the name), and only within-block
    * pairs pay the edit-distance verification. The blocking key is part
    * of the operator's contract, not an approximation knob: a pair whose
    * names disagree on the block is definitionally not a candidate (the
    * standard record-linkage formulation — choose blocks that survivable
    * variants preserve, e.g. the product noun, the phonetic code, the
    * zip prefix).
    *
    * Scale shape: one shuffle on the block key; cost is Σ_blocks |b|²
    * rather than n² — the classic blocking bound. A skewed block degrades
    * toward quadratic, so choose keys with bounded selectivity (and salt
    * or refuse degenerate blocks the way `MaxCellRows` does for semantic
    * dedup — the guard here is the caller's key choice, kept explicit).
    * Levenshtein is Spark's codegen'd built-in; id_a < id_b halves the
    * candidate space and canonicalizes pair order.
    */
  def fuzzyPairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockExpr: Column => Column,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"fuzzyPairs: maxDist=$maxDist must be >= 0")
    // Two LOSSLESS prunes keep the within-block quadratic cheap:
    //  - length band: |len(a)-len(b)| > maxDist implies lev > maxDist, so
    //    the int compare rides the join condition and most pairs never
    //    reach the DP at all;
    //  - banded Levenshtein: the 3-arg built-in computes O(len·maxDist)
    //    instead of O(len²) and bails to -1 the moment the distance
    //    provably exceeds the threshold.
    // Both return exactly the pairs the naive formulation returns.
    val a = df.select(
      col(idCol).cast("long").as("id_a"), col(nameCol).as("name_a"),
      length(col(nameCol)).as("len_a"), blockExpr(col(nameCol)).as("block"))
    val b = df.select(
      col(idCol).cast("long").as("id_b"), col(nameCol).as("name_b"),
      length(col(nameCol)).as("len_b"), blockExpr(col(nameCol)).as("block_b"))
    a.join(
        b,
        col("block") === col("block_b") && col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist).cast("int"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"), col("dist"))
  }

  private def tokenizedDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("ws"))

  /** Phase 1 of the substring dedup: every k-token window keyed by its
    * fused 60-bit digest — (doc_id, start_pos, h), one row per window,
    * NO gram strings anywhere in this subplan ([[graft.plans.ShingleHash60]]
    * streams token bytes into MD5; fewer than k tokens → no rows, matching
    * the old sequence(0, size-k) guard). start_pos is 0-based; the digest
    * covers exactly `array_join(slice(ws, start_pos+1, k), ' ')`.
    */
  private[graft] def substringWindowHashes(toks: DataFrame, k: Int): DataFrame =
    toks.select(
      col("doc_id"),
      posexplode(graft.plans.HashExpressions.shingleHash60(col("ws"), k)).as(Seq("start_pos", "h")))

  /** Hash-duplicate candidate windows: all (doc_id, start_pos) whose
    * window digest occurs more than once corpus-wide. Superset of the true
    * duplicate set (hash collisions only ADD candidates — phase 2's string
    * verify removes them), and contains ALL occurrences of every truly
    * duplicated gram, so downstream per-string counts equal global counts.
    */
  private[graft] def substringCandidates(toks: DataFrame, k: Int): DataFrame = {
    val winHashes = substringWindowHashes(toks, k)
    val dupHashes = winHashes
      .groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("h"))
    winHashes.join(dupHashes, Seq("h"), "left_semi").select(col("doc_id"), col("start_pos"))
  }

  /** Phases 2+3: string-verify the hash candidates, then merge verified
    * duplicate occurrences into maximal per-doc spans — (doc_id, s, e).
    * Gram strings are materialized ONLY for candidate windows: candidate
    * starts regroup per doc (collect_list bounded by doc length) and a
    * single doc-aligned join re-slices the tokens, so the string mass is
    * proportional to the duplicate windows, not the corpus.
    */
  private[graft] def substringDupSpans(toks: DataFrame, k: Int): DataFrame = {
    val candByDoc = substringCandidates(toks, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("start_pos")).as("ss"))
    val candGrams = toks
      .join(candByDoc, Seq("doc_id"))
      .select(
        col("doc_id"),
        explode(expr(s"transform(ss, s -> struct(s as s, array_join(slice(ws, s + 1, $k), ' ') as g))")).as("w"))
      .select(col("doc_id"), col("w.s").as("start_pos"), col("w.g").as("gram"))
    val dupGrams = candGrams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("gram"))
    val occ = candGrams
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("start_pos"), (col("start_pos") + k).as("end_pos"))
    // Merge overlapping AND touching occurrences into maximal spans:
    // a new island starts when this occurrence begins past every prior
    // end. end_pos = start_pos + k is monotone in start_pos, but the
    // running max keeps the logic shape-independent.
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start_pos"))
    val prevEnd = max(col("end_pos")).over(byStart.rowsBetween(Long.MinValue, -1))
    occ
      .withColumn("brk", when(col("start_pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byStart.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start_pos")).as("s"), max(col("end_pos")).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** Phase 4: surviving tokens → canonical retained text per doc. The
    * range predicate rides on the doc_id equi-join; per-doc span counts
    * are bounded by doc length so the join never skews. Docs with no
    * surviving token emit no row (callers left-join and default).
    */
  private def substringKeptText(toks: DataFrame, spans: DataFrame): DataFrame = {
    val pos = toks.select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "tok")))
    pos
      .join(
        spans,
        pos("doc_id") === spans("doc_id") && col("p") >= col("s") && col("p") < col("e"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"), " ").as("kept_text"))
  }

  /** Build the persisted MinHash+LSH index for a corpus: `sigs/`
    * (doc_id, shingles, sig) and `bands/` (bucket, doc_id) parquet
    * tables under `indexPath`, each laid out as `batch=<id>/`
    * subdirectories with a `_batches/<id>` commit marker per published
    * batch (see [[lshCommitBatch]]). One corpus scan; both tables are
    * linear in the corpus (bands is x`bands` rows but carries only two
    * narrow columns). This is the amortized state that makes daily dedup
    * incremental — built once, probed and appended per batch.
    */
  def lshIndexBuild(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2
  ): Unit = graft.core.Caching.scoped {
    val sig = graft.core.Caching.cached(sigTable(df, idCol, textCol, shingleSize, bands * rowsPerBand))
    lshCommitBatch(spark, indexPath, "base", sig, bands, rowsPerBand)
  }

  /** Publish one batch's index state under a COMMIT-MARKER protocol
    * (ADVICE r10: the previous two bare parquet appends were non-atomic
    * and non-idempotent — a failure between them silently lost recall for
    * every later probe, and a re-run double-appended, duplicating pairs).
    * The batch's `sigs` and `bands` land in `batch=<id>/` subdirectories
    * written with OVERWRITE (a re-run of a partial or failed batch
    * replaces rather than appends), and only after BOTH writes succeed is
    * the single-file marker `_batches/<id>` created — the commit point,
    * mirroring VersionedTable's reserve/publish discipline. Readers
    * ([[lshCommittedTable]]) list the markers and partition-prune to
    * committed batches, so a half-written batch is simply invisible.
    */
  private def lshCommitBatch(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batchId: String,
      sig: DataFrame,
      bands: Int,
      rowsPerBand: Int
  ): Unit = {
    require(batchId.matches("[A-Za-z0-9_-]+"), s"batchId '$batchId' must be filesystem-safe")
    sig.write.mode("overwrite").parquet(s"$indexPath/sigs/batch=$batchId")
    bandTable(sig, bands, rowsPerBand).write.mode("overwrite").parquet(s"$indexPath/bands/batch=$batchId")
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$indexPath/_batches/$batchId"), true).close()
  }

  /** Read `sigs` or `bands` restricted to COMMITTED batches: the marker
    * listing (driver-side, one small-dir list) becomes a partition-column
    * IN-filter, so uncommitted `batch=` directories are pruned at the
    * scan and never read.
    */
  private def lshCommittedTable(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      table: String
  ): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/_batches")
    val committed =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
    require(committed.nonEmpty, s"no committed batches in the LSH index at $indexPath")
    spark.read.parquet(s"$indexPath/$table")
      .filter(col("batch").isin(committed: _*))
      .drop("batch")
  }

  /** INCREMENTAL NEAR-DUP MAINTENANCE: dedup a NEW batch against a
    * corpus by probing the persisted LSH index instead of recomputing
    * all-corpus pairs — the shape that turns MinHash dedup from a
    * full-corpus job into a per-batch job. Returns every near-dup pair
    * touching at least one new document (new x old and new x new),
    * exact-Jaccard-verified at `minJaccard`, then appends the batch's
    * signatures and bands so the index stays current.
    *
    * SCALE: the batch side (daily increment) is BROADCAST — the big
    * persisted `bands/` table is filtered map-side by the probe's bucket
    * set with no shuffle of the index; only matching postings reach the
    * candidate join. Old-side shingle fetch is a semi-join by candidate
    * id (point lookups into `sigs/`, not a scan-to-driver). Result is
    * identical to running full LSH over (corpus + batch) and keeping
    * the pairs that touch the batch — the oracle checks exactly that.
    * Ids must be globally unique across corpus and batches.
    *
    * The append publishes via [[lshCommitBatch]]'s marker protocol under
    * a batch id that is a pure function of the batch's doc ids (caller-
    * overridable), so a crashed or re-delivered batch re-runs to the SAME
    * id and overwrites its own partial state instead of double-appending.
    */
  def lshProbeAndAppend(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      newBatch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      batchId: Option[String] = None,
      persistPairs: DataFrame => Unit = _ => ()
  ): DataFrame = graft.core.Caching.scoped {
    val newSig = graft.core.Caching.cached(sigTable(newBatch, idCol, textCol, shingleSize, bands * rowsPerBand))
    val out = lshProbePairs(spark, indexPath, newSig, bands, rowsPerBand, minJaccard)
    // SEVER LINEAGE before appending: the result plan scans `sigs/`, and
    // Spark invalidates (and transparently recomputes) any cached plan
    // over a path that gets appended to — a plain cache() would silently
    // double-count the batch. localCheckpoint materializes the pairs as
    // an RDD with no file lineage; real clusters with lossy executors
    // should use a reliable checkpoint dir here (duplicateGroups'
    // pattern).
    val local = out.localCheckpoint()
    // content-derived id: order-independent xor of the batch's doc-id
    // hashes (one bounded agg over the cached sig table) — deterministic
    // across re-deliveries of the same batch
    val bid = batchId.getOrElse {
      val h = Option(newSig.agg(expr("bit_xor(xxhash64(doc_id))")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      f"x$h%016x"
    }
    // persistPairs runs BEFORE the index commit: the `_batches/<id>`
    // marker is the batch's single commit point, so a consumer that
    // durably sinks the pairs here (e.g. the streaming dedup sink's
    // per-batch parquet) is covered by it — a crash after the marker
    // means pairs AND index state are both on disk; a crash before it
    // means the re-delivered batch rewrites both under the same id.
    persistPairs(local)
    lshCommitBatch(spark, indexPath, bid, newSig, bands, rowsPerBand)
    local
  }

  /** Whether `batchId` has been committed into the LSH index at
    * `indexPath` — the idempotence check for at-least-once re-delivery:
    * a committed batch's probe results are already durably persisted
    * (see [[lshProbeAndAppend]]'s `persistPairs` ordering), so a
    * re-delivery can skip the batch outright instead of re-probing.
    */
  def lshBatchCommitted(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batchId: String
  ): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_batches/$batchId")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The pre-checkpoint probe plan of [[lshProbeAndAppend]] (batch
    * bucket set broadcast against the persisted postings, candidates
    * verified by exact Jaccard) — factored out so plan-shape guards can
    * inspect the join strategy before the lineage cut hides it.
    */
  private[graft] def lshProbePairs(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      newSig: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      minJaccard: Double
  ): DataFrame = {
    val newBands = bandTable(newSig, bands, rowsPerBand)
    val oldBands = lshCommittedTable(spark, indexPath, "bands")
    val probe = newBands.select(col("bucket"), col("doc_id").as("__new_id"))
    val candNewOld = oldBands
      .join(broadcast(probe), "bucket")
      .select(least(col("doc_id"), col("__new_id")).as("id_a"), greatest(col("doc_id"), col("__new_id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val nb = newBands.select(col("bucket").as("__b2"), col("doc_id").as("id_b"))
    val candNewNew = newBands
      .join(nb, newBands("bucket") === nb("__b2") && col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"))
    val cand = candNewOld.unionByName(candNewNew).distinct()
    val allSh = lshCommittedTable(spark, indexPath, "sigs").select(col("doc_id"), col("shingles"))
      .unionByName(newSig.select(col("doc_id"), col("shingles")))
    withSortedJaccard(cand
      .join(allSh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(allSh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), "id_b"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), floor(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
  }
}
