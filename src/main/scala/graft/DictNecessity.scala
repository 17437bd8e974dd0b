package graft

import org.apache.spark.sql.functions._

/** The un-hinted verify's NECESSITY demonstration (VERDICT r16 #4): the
  * r16 A/B proved the `broadcastDict = Shuffle` escape SAFE (hash-equal)
  * and measured both regimes where broadcast survives — but the regime
  * the escape exists for (a dictionary past the heap ceiling with bounded
  * candidate mass) had no measurement. This main builds exactly that
  * corpus and runs one verify plan per invocation, so a constrained JVM
  * (SPARK_DRIVER_MEM=2g) can observe BOTH failure modes from the outside:
  *
  *   runMain graft.DictNecessity hinted    # broadcast plan: dies at collect
  *   runMain graft.DictNecessity unhinted  # shuffled verify: completes
  *   runMain graft.DictNecessity auto      # DictHint.Auto: must pick the surviving plan
  *
  * Corpus (deterministic, no RNG): `nDocs` documents of `nToks` distinct
  * tokens each — every token unique to its document, so the element
  * DICTIONARY is nDocs·nToks longs (45M longs / ~360 MB of row data at
  * the defaults, hash-relation-building to several GB — past a 2 GB
  * driver/executor) — plus `nDup` exact duplicate pairs, so the CANDIDATE
  * mass is tiny (every non-duplicate doc's band buckets are unique). The
  * q37 minhashLsh shape runs the verify; output = the nDup duplicate
  * pairs at jaccard 1.0, printed with a deterministic row hash so the
  * surviving plans' outputs are comparable across JVMs.
  *
  * Knobs via env: DICT_NDOCS (default 150000), DICT_NTOKS (300),
  * DICT_NDUP (100) — the defaults ARE the measured SCALE.md configuration
  * (ADVICE r17: the duplicate pair ids are (i, nDocs+i), so the published
  * rows=100 / row_hash 2454861968864518729 reproduce only at the ledgered
  * nDocs; running `runMain graft.DictNecessity <mode>` with no env now
  * matches the table verbatim).
  */
object DictNecessity {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("unhinted")
    val nDocs = sys.env.getOrElse("DICT_NDOCS", "150000").toInt
    val nToks = sys.env.getOrElse("DICT_NTOKS", "300").toInt
    val nDup = sys.env.getOrElse("DICT_NDUP", "100").toInt
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, s"graft-dict-necessity-$mode")

    // doc i < nDocs owns tokens [i·nToks, (i+1)·nToks); docs nDocs..nDocs+nDup
    // duplicate docs 0..nDup — the only shared vocabulary in the corpus
    val corpus = spark
      .range((nDocs + nDup).toLong)
      .select(
        col("id").as("doc_id"),
        when(col("id") < nDocs, col("id")).otherwise(col("id") - nDocs).as("src"))
      .select(
        col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), lit(nToks - 1)),
            j => concat(lit("t"), (col("src") * nToks + j).cast("string"))),
          " ").as("text"))

    val hint: graft.operators.Dedup.DictHint = mode match {
      case "hinted"   => graft.operators.Dedup.DictHint.Broadcast
      case "unhinted" => graft.operators.Dedup.DictHint.Shuffle
      case "auto"     => graft.operators.Dedup.DictHint.Auto()
      case other      => sys.error(s"unknown mode '$other' (hinted|unhinted|auto)")
    }
    val t0 = System.nanoTime()
    val out = graft.operators.Dedup
      .minhashLsh(corpus, "doc_id", "text",
        shingleSize = 1, bands = 8, rowsPerBand = 2, minJaccard = 0.5, broadcastDict = hint)
      .select(col("id_a"), col("id_b"), floor(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
    // bit_xor, not sum: hashes span the full long range and an ANSI sum
    // overflows (the Bench.materialize lesson)
    val agg = out
      .select(xxhash64(col("id_a"), col("id_b"), col("jaccard_e4")).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hash"))
      .head()
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""[dict-necessity] {"mode":"$mode","n_docs":$nDocs,"n_toks":$nToks,"n_dup":$nDup,""" +
        s""""rows":${agg.getLong(0)},"row_hash":${agg.getLong(1)},"sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
