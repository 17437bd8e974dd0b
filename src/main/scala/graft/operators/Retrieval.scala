package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a document corpus: BM25 scoring with a
  * broadcast query-term list and a bounded top-k tail.
  *
  * Reference behavior modeled: the reference's TF-IDF-style term scoring
  * (aws_datalake's pandas token pipelines) extended to the retrieval
  * surface a curation pipeline needs — "pull the k most relevant docs for
  * this probe query" (e.g. targeted decontamination, topical subsetting).
  *
  * Scale shape (100 TB story):
  *   - tokens are exploded ONCE and filtered to the query-term set BEFORE
  *     any shuffle, so the postings relation entering the aggregation is
  *     O(matching tokens), not O(corpus tokens);
  *   - document frequencies aggregate to <= |terms| rows and broadcast
  *     back;
  *   - doc lengths + the global (N, sum dl) pair are one partial-agg pass;
  *   - the final top-k is `orderBy.limit(k)` = TakeOrderedAndProject:
  *     per-partition heap of k, driver merges k rows per partition —
  *     never a global sort of the scored relation.
  *
  * Determinism: per-term partial scores are quantized to e6 integers and
  * summed as longs, so the doc score is independent of float summation
  * order across partitions (and bit-exact reproducible in the DuckDB
  * oracle). The BM25 constants default to binary-exact doubles
  * (k1=1.25, b=0.75) so a SQL oracle writing the same decimal literals
  * computes the identical IEEE value.
  */
object Retrieval {

  /** BM25 top-k: returns (doc_id, bm25_e12, n_terms_hit), the k highest
    * scoring docs for `queryTerms`, ties broken by ascending doc id.
    *
    * Score is Lucene-style BM25 with the +1 idf floor:
    *   idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
    *   tfn(t,d)= tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    * quantized per term as floor(1e6*idf) * floor(1e6*tfn) (a long), then
    * summed per doc — exact integer arithmetic after the two floors.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.25,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(k > 0, "bm25TopK: k must be positive")
    val terms = queryTerms.distinct

    val toks = docs.select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("ws"))
    val lens = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    // One row: corpus size and total token count. Partial-agg pass, broadcast.
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    // Filter to query terms BEFORE the groupBy shuffle: postings is
    // O(matching tokens) from here on.
    val postings = toks
      .select(col("doc_id"), explode(col("ws")).as("token"))
      .filter(col("token").isInCollection(terms))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

    val dfreq = postings.groupBy(col("token")).agg(count(lit(1)).as("df")) // <= |terms| rows

    scoreAndTopK(postings, dfreq, lens, stats, k, k1, b)
  }

  /** The shared scoring tail of every BM25 surface: exact e6-floored
    * per-term partials ([[bm25TopK]]'s determinism contract), long-summed
    * per doc, TakeOrderedAndProject for the top-k. `postings` must be
    * (doc_id, token, tf), `dfreq` (token, df), `lens` (doc_id, dl),
    * `stats` one (n_docs, sum_dl) row.
    */
  private def scoreAndTopK(
      postings: DataFrame,
      dfreq: DataFrame,
      lens: DataFrame,
      stats: DataFrame,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val dl = col("dl").cast("double")
    val tf = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn = tf * lit(k1 + 1.0) / (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / col("avgdl")))

    postings
      .join(broadcast(dfreq), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", avgdl)
      .withColumn("term_score_e12", (floor(lit(1000000.0) * idf).cast("long") * floor(lit(1000000.0) * tfn).cast("long")))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score_e12")).as("bm25_e12"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25_e12").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 top-k for a BATCH of queries in one pass — the decontamination-
    * sweep shape: thousands of probe queries against one corpus must not
    * cost thousands of corpus scans. `queries` is a (query id, term)
    * relation; the result is each query's top-k by the exact scoring
    * contract of [[bm25TopK]] (which remains the single-probe special
    * case — its literal IN-list filter beats a join when the term set is
    * a driver-side constant).
    *
    * One-pass structure:
    *   - postings are filtered by a BROADCAST SEMI-JOIN against the union
    *     of all queries' terms (still before the first shuffle — the
    *     postings relation is O(tokens matching ANY query));
    *   - per-(doc, term) BM25 partial scores are computed ONCE, shared by
    *     every query containing the term (df/dl/avgdl are query-independent),
    *     then fanned out to queries by a broadcast join on term;
    *   - per-query top-k is a rank window partitioned by query id —
    *     each query's candidate set (docs sharing >= 1 term) sorts
    *     independently; no global sort, no cross-query interaction.
    *
    * Output: (query_id, doc_id, bm25_e12, n_terms_hit), rank <= k rows per
    * query, ties broken by ascending doc id. Per-query results are
    * row-identical to running [[bm25TopK]] with that query's terms:
    * df(t) counts docs containing t regardless of the filtering term-set,
    * so batching cannot shift any score (proven in RetrievalSpec).
    */
  def bm25TopKBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      termCol: String,
      k: Int,
      k1: Double = 1.25,
      b: Double = 0.75): DataFrame = {
    require(k > 0, "bm25TopKBatch: k must be positive")
    val qterms = queries
      .select(col(queryIdCol).cast("long").as("query_id"), col(termCol).as("token"))
      .distinct()
    val termSet = qterms.select(col("token")).distinct()

    val toks = docs.select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("ws"))
    val lens = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    val postings = toks
      .select(col("doc_id"), explode(col("ws")).as("token"))
      .join(broadcast(termSet), Seq("token"), "left_semi")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))

    val dl = col("dl").cast("double")
    val tf = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn = tf * lit(k1 + 1.0) / (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / col("avgdl")))

    val termScores = postings
      .join(broadcast(dfreq), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", avgdl)
      .withColumn("term_score_e12", (floor(lit(1000000.0) * idf).cast("long") * floor(lit(1000000.0) * tfn).cast("long")))
      .select(col("doc_id"), col("token"), col("term_score_e12"))

    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25_e12").desc, col("doc_id").asc)
    termScores
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score_e12")).as("bm25_e12"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25_e12"), col("n_terms_hit"), col("rank"))
  }

  /** PERSISTED inverted index: tokenize the corpus ONCE, store postings
    * hash-partitioned by token bucket — the text-retrieval twin of the
    * stored IVF+SQ8 ANN layout (build cost amortizes across every later
    * probe; a probe touches only its terms' bucket directories, never the
    * corpus).
    *
    * Layout at `path`:
    *   - `postings/bucket=<b>/` — (doc_id, token, tf), bucket =
    *     pmod(md5prefix60(token), nBuckets): a probe for t reads exactly
    *     one bucket dir per term (disk-level partition pruning);
    *   - `dfreq/bucket=<b>/`  — (token, df): idf inputs come from a
    *     metadata-sized read, not a postings aggregation;
    *   - `lens/` — (doc_id, dl); joined only against the pruned
    *     candidate set at probe time;
    *   - `stats/` — ONE row (n_docs, sum_dl, n_buckets): the probe reads
    *     nBuckets from here, so an index is self-describing.
    */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = graft.core.Caching.scoped {
    require(nBuckets > 0, s"writeBm25Index: nBuckets=$nBuckets must be positive")
    val toks = graft.core.Caching.cached(
      docs.select(col(idCol).cast("long").as("doc_id"), TextAnalysis.tokens(col(textCol)).as("ws"))
    )
    val lens = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val postings = toks
      .select(col("doc_id"), explode(col("ws")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(graft.plans.HashExpressions.md5Prefix60(col("token")), lit(nBuckets.toLong)))
    postings.write.partitionBy("bucket").mode("overwrite").parquet(s"$path/postings")
    // one row per distinct token; same bucketing, so df reads prune too
    postings
      .groupBy(col("token"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/dfreq")
    lens.write.mode("overwrite").parquet(s"$path/lens")
    lens
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Serve a BM25 top-k from a [[writeBm25Index]] layout: bucket ids for
    * the probe terms are computed driver-side from the same portable hash,
    * so the postings/dfreq reads are partition-pruned to |distinct term
    * buckets| directories. Scoring is the exact [[bm25TopK]] contract —
    * probeBm25Index(writeBm25Index(corpus)) is row-identical to
    * bm25TopK(corpus) (proven in RetrievalSpec and oracle q130).
    */
  def probeBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.25,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "probeBm25Index: empty query")
    require(k > 0, "probeBm25Index: k must be positive")
    val terms = queryTerms.distinct
    val stats = spark.read.parquet(s"$path/stats")
    // one bounded driver row: corpus stats + the index's bucket count
    val nBuckets = stats.select(col("n_buckets")).head().getLong(0)
    val buckets = terms.map(t => graft.plans.Md5Prefix60.hash(t.getBytes("UTF-8")) % nBuckets).distinct
    def pruned(sub: String): DataFrame =
      spark.read.parquet(s"$path/$sub")
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("token").isInCollection(terms))
    val postings = pruned("postings").select(col("doc_id"), col("token"), col("tf"))
    val dfreq = pruned("dfreq").select(col("token"), col("df"))
    val lens = spark.read.parquet(s"$path/lens")
    scoreAndTopK(postings, dfreq, lens, stats.select(col("n_docs"), col("sum_dl")), k, k1, b)
  }

  /** Reciprocal-rank fusion of per-system rankings (Cormack et al. 2009):
    * fused(d) = Σ_systems 1/(rrfK + rank_s(d)), the standard way to merge
    * a lexical and a semantic ranking without score calibration.
    *
    * Each input is (id, rank) with rank 1-based and ids unique. The
    * contribution is quantized as floor(1e9 / (rrfK + rank)) and summed in
    * exact long arithmetic — rank ≤ depth keeps every quotient well inside
    * the e9 grid, and the fused ordering is then deterministic and
    * oracle-replayable. All inputs are ≤depth-row relations, so the unions
    * and the final sort are metadata-sized no matter the corpus size.
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(rrfK >= 1, s"rrfFuse: rrfK=$rrfK must be >= 1")
    val tagged = rankings.map { case (sys, df) =>
      df.select(
        col("id"),
        col("rank"),
        lit(sys).as("sys"),
        floor(lit(1000000000.0) / (lit(rrfK) + col("rank"))).cast("long").as("contrib"))
    }.reduce(_.unionByName(_))
    // per-system rank pivot columns: null when that system didn't retrieve the doc
    val aggs: Seq[Column] =
      count(lit(1)).as("n_systems") +:
        rankings.map { case (sys, _) => max(when(col("sys") === sys, col("rank"))).as(s"${sys}_rank") }
    tagged
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("rrf_e9"), aggs: _*)
      .orderBy(col("rrf_e9").desc, col("id").asc)
      .limit(k)
  }

  /** Hybrid retrieval: BM25 (lexical) + brute-force cosine (semantic)
    * rankings to `depth`, fused with RRF. The semantic query is a
    * query-by-example: `queryVecId`'s embedding probes the vector table
    * (itself excluded from candidates). Both ranked lists are ≤depth rows
    * before any window/ordering touches them — rank assignment is a
    * single-partition window over a driver-bounded relation, never over
    * the corpus.
    */
  def hybridTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queryVecId: Long,
      k: Int,
      depth: Int = 100,
      rrfK: Int = 60): DataFrame = {
    require(depth >= k, s"hybridTopK: depth=$depth must cover k=$k")
    // one row, dim floats: bounded driver fetch of the probe embedding
    val qRows = vectors.filter(col(vecIdCol) === queryVecId).select(col(vecCol)).collect()
    require(qRows.length == 1, s"hybridTopK: query vector id $queryVecId matched ${qRows.length} rows")
    val queryVec = qRows(0).getSeq[Float](0)

    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc, col("id").asc)
    def ranked(df: DataFrame): DataFrame =
      df.withColumn("rank", row_number().over(byScore).cast("long"))
        .select(col("id"), col("rank"))

    val lexical = ranked(
      bm25TopK(docs, idCol, textCol, queryTerms, depth)
        .select(col("doc_id").as("id"), col("bm25_e12").as("__score")))
    val semantic = ranked(
      Similarity.bruteForceTopK(
          vectors.filter(col(vecIdCol) =!= queryVecId), vecIdCol, vecCol, queryVec, depth)
        .select(col(vecIdCol).cast("long").as("id"), col("cosine").as("__score")))
    rrfFuse(Seq("lex" -> lexical, "sem" -> semantic), k, rrfK)
  }
}
