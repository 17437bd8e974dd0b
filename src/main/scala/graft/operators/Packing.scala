package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed token-budget context
  * windows ("bins") — the step that turns a filtered corpus into
  * training-example batches without wasting budget on padding.
  *
  * Packing is inherently ORDER-DEPENDENT (greedy next-fit: a doc that
  * would overflow the open bin closes it and starts the next), so the
  * distributed design shards the corpus deterministically (doc_id mod
  * nShards) and packs each shard as an independent sequential stream:
  *
  *  - one shuffle co-locates each shard (`repartition(nShards, shard)`),
  *  - `sortWithinPartitions(shard, doc_id)` fixes the scan order — no
  *    global sort, no single-partition stage,
  *  - a streaming `mapPartitions` scan carries O(1) state (open bin id +
  *    fill) and resets it on shard boundary, so a partition holding
  *    several shards (hash collision) packs each correctly.
  *
  * At 100 TB the lever is nShards: it bounds per-task sequential work and
  * scales with the cluster; bin ids are only unique per shard, which is
  * exactly the contract a downstream per-shard batch writer needs. A doc
  * longer than the budget gets a bin of its own (it opens a fresh bin and
  * the next doc always overflows it) — callers wanting truncation chunk
  * first with [[TextAnalysis.chunkTokens]].
  */
object Packing {

  /** Greedy next-fit packing of `df` into `budget`-token bins within
    * `nShards` deterministic shards. Output: (doc_id, shard, bin_id,
    * n_tokens) — one row per input doc, bin_id monotone within shard
    * scan order.
    */
  def packGreedy(
      df: DataFrame,
      budget: Int,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import df.sparkSession.implicits._
    val base = df.select(
      col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).cast("int").as("n_tokens"),
      (col(idCol).cast("long") % nShards).cast("int").as("shard")
    )
    base
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        var curShard = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (id, n, sh) =>
          if (sh != curShard) { curShard = sh; bin = 0L; fill = 0L }
          if (fill + n > budget && fill > 0) { bin += 1; fill = 0L }
          fill += n
          (id, sh, bin, n)
        }
      }
      .toDF("doc_id", "shard", "bin_id", "n_tokens")
  }

  /** TRAINING-SHARD EXPORT WITH MANIFEST (the webdataset-style shard
    * writer a training job consumes): pack the corpus ([[packGreedy]]),
    * write one parquet shard directory per shard under `outDir`, and
    * emit a per-shard MANIFEST row — doc count, bin count, token count,
    * and an order-independent content fingerprint (xor of the portable
    * md5-prefix hash of "doc_id:bin_id") a loader verifies before
    * trusting the shard. The manifest itself lands at
    * `outDir/_manifest` so the dataset is self-describing.
    *
    * Fingerprint choices: xor (not a concat-then-hash) keeps the
    * per-shard state O(1) at any shard size; the hash input binds the
    * doc to its BIN, so a shard with the right docs in the wrong
    * packing fails verification.
    *
    * SCALE: one packing pass + one (shard)-keyed aggregation; shard
    * count bounds both the output and the write fan-out. Returns the
    * manifest DataFrame.
    */
  def writeShardManifest(
      df: DataFrame,
      budget: Int,
      nShards: Int,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = graft.core.Caching.scoped {
    val packed = graft.core.Caching.cached(packGreedy(df, budget, nShards, idCol, textCol))
    packed.write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/shards")
    val fp = graft.plans.HashExpressions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":"), col("bin_id").cast("string")))
    val withFp = packed.withColumn("__fp", fp)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        (max(col("bin_id")) + 1L).as("n_bins"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        expr("bit_xor(__fp)").as("fingerprint60")
      )
    withFp.write.mode("overwrite").parquet(s"$outDir/_manifest")
    df.sparkSession.read.parquet(s"$outDir/_manifest")
  }

  /** MATERIALIZED PACKED SEQUENCES — the payload half of [[packGreedy]]:
    * the actual training sequences a loader feeds the model, one row per
    * (shard, bin) with the member documents' texts joined by the
    * `<eos>` separator in doc-id order plus doc/token counts and a
    * portable content hash. This is what the packing assignment exists
    * FOR; exporting assignment without payload leaves the fuse-step to
    * the loader.
    *
    * SCALE: text moves exactly twice — once into its shard for the
    * sequential pack scan, once into its (shard, bin) group for the
    * fuse — and every group is ≤ budget tokens by construction, so the
    * reassembly aggregation has bounded row weight at any corpus size.
    */
  def materializeBins(
      df: DataFrame,
      budget: Int,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      eos: String = "<eos>"
  ): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    import df.sparkSession.implicits._
    val base = df.select(
      col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).cast("int").as("n_tokens"),
      (col(idCol).cast("long") % nShards).cast("int").as("shard"),
      col(textCol).as("text")
    )
    base
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Int, Int, String)]
      .mapPartitions { it =>
        var curShard = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (id, n, sh, text) =>
          if (sh != curShard) { curShard = sh; bin = 0L; fill = 0L }
          if (fill + n > budget && fill > 0) { bin += 1; fill = 0L }
          fill += n
          (id, sh, bin, n, text)
        }
      }
      .toDF("doc_id", "shard", "bin_id", "n_tokens", "text")
      .groupBy(col("shard").cast("long").as("shard"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        graft.plans.HashExpressions.md5Prefix60(
          concat_ws(s" $eos ", transform(array_sort(collect_list(struct(col("doc_id"), col("text")))), x => x.getField("text")))
        ).as("packed_h")
      )
  }

  /** DETERMINISTIC EPOCH SHUFFLE — the training-order randomizer: every
    * epoch needs a different global permutation of the corpus, and it
    * must be REPRODUCIBLE (resume a crashed run, replay a loss spike,
    * bisect a bad batch) — so no RNG anywhere. Each doc's sort key is
    * the portable 60-bit md5 prefix of `seed ++ ":" ++ id`: changing the
    * seed (e.g. "ep0" → "ep1") re-permutes everything, re-running with
    * the same seed is bit-identical on any engine or cluster layout.
    *
    * Output: (idCol, shard, pos) — shard = key mod nShards, pos = the
    * doc's 0-based position in its shard's key order. A loader that
    * walks shards round-robin by pos consumes the corpus in a globally
    * shuffled, globally reproducible order.
    *
    * SCALE: ONE shuffle (hash-partition by shard) + an in-partition
    * sort per shard — never a global sort. nShards bounds per-task sort
    * size and scales with the cluster; the md5 key makes every shard
    * statistically balanced regardless of id skew.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: String, nShards: Int): DataFrame = {
    val key = graft.plans.HashExpressions.md5Prefix60(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    df.select(col(idCol), key.as("__k"))
      .withColumn("shard", pmod(col("__k"), lit(nShards.toLong)).cast("int"))
      .withColumn(
        "pos",
        (row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))
        ) - 1).cast("long")
      )
      .drop("__k")
  }
}
