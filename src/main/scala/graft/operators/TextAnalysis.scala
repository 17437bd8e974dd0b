package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All built from codegen'd `functions._` expressions — no UDFs — so a
  * 100 TB documents table is processed in one whole-stage-codegen pass with
  * column pruning reaching the parquet scan (only `text` + keys are read).
  */
object TextAnalysis {

  /** Whitespace tokenization; empty text -> empty array (Spark's split("")
    * would yield [""], which we normalize away).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count heuristic: words plus punctuation runs counted
    * separately (a cheap stand-in for a real tokenizer's token count).
    */
  def approxBpeCount(text: Column): Column =
    size(filter(split(text, "(?<=[a-zA-Z0-9])(?=[^a-zA-Z0-9\\s])|(?<=[^a-zA-Z0-9\\s])(?=[a-zA-Z0-9])|\\s+"), x => length(x) > 0))

  /** REAL BPE token count over the fixture merge table — the public
    * byte-pair-merge algorithm as a codegen'd expression
    * ([[graft.plans.Bpe]]); `approxBpeCount` stays as the cheap screen
    * (it counts exactly the pre-tokens this tokenizer starts from).
    */
  def bpeCount(text: Column): Column = graft.plans.BpeTokenCount.bpeTokens(text)

  /** Quality-scoring feature columns (length / punctuation / stopword
    * ratios). Raw doubles — integer numerator/denominator division, so the
    * values are bit-identical across engines; callers scale+floor for
    * hash-stable output.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val stop = stopwords("en")
    // bind tokens to a real column ONCE: three feature expressions consume
    // the array, and an inline `tokens(t)` Column would re-tokenize the
    // document per expression (the engine's measured-10x HOF/binding rule)
    val toks = col("__toks")
    df.withColumn("__toks", tokens(t))
      .withColumn("n_chars_q", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn(
        "avg_token_len",
        when(size(toks) > 0, aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(toks))
          .otherwise(lit(0.0))
      )
      .withColumn(
        "punct_ratio",
        when(length(t) > 0, (length(t) - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))).cast("double") / length(t))
          .otherwise(lit(0.0))
      )
      .withColumn(
        "stopword_ratio",
        when(size(toks) > 0, size(filter(toks, x => array_contains(stop, lower(x)))).cast("double") / size(toks))
          .otherwise(lit(0.0))
      )
      .drop("__toks")
  }

  /** Shared with the oracle-SQL generator so both engines score identically. */
  val stopwordLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "this"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por", "con", "los", "las", "del", "se"),
    "de" -> Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit", "ein", "eine", "auf", "für", "im"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "en", "un", "une", "du", "que", "qui", "dans", "pour"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "中", "大", "来", "上", "国", "个")
  )

  def stopwords(lang: String): Column =
    array(stopwordLists.getOrElse(lang, Nil).map(lit): _*)

  /** Language ID by stopword-overlap scoring: for each candidate language,
    * score = number of tokens found in its stopword list; argmax wins, ties
    * broken by language code order, zero evidence -> "und". A classic n-gram
    * profile would use character trigrams; for the word-salad fixtures the
    * token-overlap variant is the deterministic, oracle-expressible choice.
    */
  def langId(text: Column): Column = {
    val toks = transform(tokens(text), lower _)
    val scored = stopwordLists.toSeq.sortBy(_._1).map { case (lang, words) =>
      val stop = array(words.map(lit): _*)
      struct(size(filter(toks, x => array_contains(stop, x))).as("score"), lit(lang).as("lang"))
    }
    // argmax: sort (score, lang-desc) and take the head; array_sort on structs
    // orders by fields ascending, so invert score and take element 1
    val best = array_sort(array(scored.map(s => struct((-s.getField("score")).as("neg"), s.getField("lang").as("lang"))): _*))
    when(element_at(best, 1).getField("neg") === 0, lit("und"))
      .otherwise(element_at(best, 1).getField("lang"))
  }

  /** Document fingerprint: md5 of the case/punctuation/whitespace-normalized
    * text — the content-defined identity used by exact dedup.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Rolling (polynomial) hash over tokens — order-sensitive fingerprint on
    * a 2^40 ring: h = fold((h * 31 + hash32(token)) mod 2^40). The ring keeps
    * the fold free of ANSI long overflow (31*2^40 + 2^32 << 2^63) while
    * staying deterministic and codegen'd.
    */
  def rollingHash(text: Column): Column = {
    val ring = lit(1099511627776L) // 2^40
    aggregate(tokens(text), lit(0L), (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), lit(4294967296L)), ring))
  }

  /** Unicode-canonical text: NFC normalization (codegen'd expression) so
    * visually identical strings hash/dedup/join identically across sources.
    */
  def nfc(text: Column): Column = graft.plans.HashExpressions.unicodeNormalize(text, "NFC")

  /** Accent folding: NFD-decompose then strip combining marks — the
    * search/dedup-key form ("café" -> "cafe"). DuckDB twin: strip_accents.
    */
  def stripAccents(text: Column): Column =
    regexp_replace(graft.plans.HashExpressions.unicodeNormalize(text, "NFD"), "\\p{Mn}", "")

  /** PII redaction for training corpora: regex-scrub emails, international
    * phone-ish numbers, and SSN-shaped ids. Patterns are conservative
    * (no lookarounds/backrefs) so they behave identically under Java regex
    * and RE2 — the Spark expression and a SQL oracle agree byte-for-byte.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
  val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  def redactPii(text: Column): Column = {
    val noSsn = regexp_replace(text, SsnRe, "[SSN]")
    val noEmail = regexp_replace(noSsn, EmailRe, "[EMAIL]")
    regexp_replace(noEmail, PhoneRe, "[PHONE]")
  }

  /** Count of PII hits per category (the audit side of redaction). */
  def piiCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))))
      .withColumn("n_ssns", size(regexp_extract_all(col(textCol), lit(SsnRe), lit(0))))

  /** Within-document repetition ratio: 1 - distinct/total word n-grams — a
    * standard training-data quality signal (template/boilerplate detector).
    * 0 = no repeated n-grams; -> 1 for highly repetitive text.
    */
  def repetitionRatio(shingles: Column): Column =
    when(size(shingles) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(shingles)).cast("double") / size(shingles))

  /** Word n-gram shingles (ordered, positional) — the input to MinHash and
    * Jaccard dedup. Empty result when fewer than n tokens.
    *
    * PERF: pass a bound token COLUMN (`df.withColumn("toks", tokens(text))`)
    * — higher-order-function lambdas are interpreted and re-evaluate their
    * subtree per element, so an inline `split()` here would re-tokenize the
    * document once per shingle.
    */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))
      )
    )

  /** Convenience form over raw text — fine for small data / tests; hot paths
    * should bind tokens first (see wordShinglesFromTokens).
    */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(text), n)

  /** URL decomposition for domain-level corpus screens (pretraining
    * blocklists, per-domain mixing weights, dedup-by-page): pure codegen'd
    * regexp columns, no UDF. `domain` is the REGISTRABLE domain
    * approximated as the last two host labels (last three when the
    * second-level label is a country-code second-level like `co.uk` —
    * the common-suffix subset that needs no public-suffix list).
    * Unparseable urls yield NULL columns (filter on `host IS NULL` to
    * quarantine). Userinfo (`user:pw@host`) is stripped BEFORE the port so
    * credential-bearing urls cannot smuggle a host past [[domainFilter]];
    * the strip uses last-@ semantics like WHATWG parsers, and the host
    * capture excludes `@` entirely, so an EMPTY-host url
    * (`https://spam.com@/x` — all credentials, no host) parses to NULL
    * and is quarantined rather than backtracking the credentials into the
    * host. IPv6 literal hosts (`[::1]`) are NOT supported — the bracketed
    * form mangles under the first-colon port strip; screen corpora
    * carrying IPv6 urls need a real URL parser.
    */
  def urlParts(url: Column): Column = {
    // the capture must run to a delimiter or end-of-string (the trailing
    // (?:[/?#]|$), RE2-safe — no lookahead): otherwise the engine could
    // skip the optional userinfo group and stop the host at the '@',
    // resurrecting the credentials-as-host parse
    val host = lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#@]*)(?:[/?#]|$)", 1))
    val hostNoPort = regexp_extract(host, "^([^:]+)", 1)
    val h = when(hostNoPort === "", lit(null).cast("string")).otherwise(hostNoPort)
    val ccSld = "(?:co|com|org|net|ac|gov|edu)"
    val ccMatch = regexp_extract(h, s"([^.]+\\.$ccSld\\.[a-z][a-z])$$", 1)
    val twoLabel = regexp_extract(h, "([^.]+\\.[^.]+)$", 1)
    val domain = coalesce(
      when(ccMatch === "", lit(null).cast("string")).otherwise(ccMatch),
      when(twoLabel === "", lit(null).cast("string")).otherwise(twoLabel)
    )
    val tld = when(regexp_extract(h, "\\.([^.]+)$", 1) === "", null)
      .otherwise(regexp_extract(h, "\\.([^.]+)$", 1))
    val rawPath = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    val path = when(h.isNull, lit(null).cast("string"))
      .otherwise(when(rawPath === "", "/").otherwise(rawPath))
    struct(h.as("host"), domain.as("domain"), tld.as("tld"), path.as("path"))
  }

  /** Domain blocklist screen: keep rows whose registrable domain is NOT on
    * the (broadcast) blocklist. NULL domains (unparseable urls) are DROPPED
    * — an unattributable page fails a provenance screen by default.
    */
  def domainFilter(df: DataFrame, urlCol: String, blocked: Seq[String]): DataFrame = {
    val d = urlParts(col(urlCol)).getField("domain")
    df.filter(d.isNotNull && !d.isin(blocked: _*))
  }

  /** BOILERPLATE / HOT-SPAN MINING: the n-token spans occurring in at least
    * `minDf` DISTINCT documents — C4's repeated-substring filter and a
    * memorization-risk audit in one pass (reference tie-in: the quality
    * screens GX encodes, great_expectations.py:99; this is the corpus-level
    * twin of the per-doc `repetitionRatio`).
    *
    * Shape: explode each document's DISTINCT spans (internal repetition
    * must not inflate document frequency), then ONE hash aggregation on the
    * span — count(*) IS the distinct-doc count by construction, no
    * count(distinct) shuffle. Linear in total postings, never pairwise; the
    * same inverted-index discipline as `jaccardPairsWithinBlocks`.
    *
    * This string-keyed form is the readable baseline and the regression
    * twin of [[hotSpansHashed]], which keys the aggregation on the span's
    * 60-bit hash instead — the default for scale work.
    *
    * Output: (span, df, first_doc_id).
    */
  def hotSpans(df: DataFrame, idCol: String, textCol: String, n: Int, minDf: Int): DataFrame = {
    require(n > 0 && minDf > 0, "need n > 0 and minDf > 0")
    spanPostings(df, idCol, textCol, n)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("df"), min(col("__doc_id")).as("first_doc_id"))
      .filter(col("df") >= minDf)
  }

  /** [[hotSpans]] with the aggregation keyed on `Md5Prefix60(span)` — an
    * 8-byte fixed-width grouping/shuffle key instead of a ~6·n-char string —
    * and the span string riding only as a `min(span)` representative
    * payload. The string buffer makes the aggregation sort-based
    * (HashAggregateExec needs fixed-width mutable buffers), but the sort
    * key is a single long (radix-friendly) and the shuffle still carries
    * exactly one row per distinct span per map partition, same as the
    * string-keyed twin — measured 17% faster than [[hotSpans]] at sf0.1.
    *
    * The evaluated alternative — a string-free shuffle (hash-only
    * HashAggregate) with representative strings recovered by re-shingling
    * each hot span's first document — was measured 60% SLOWER: Spark plans
    * the hot-spans subtree twice across the recovery self-join (no exchange
    * reuse), so the corpus pays a second full explode+aggregate. Revisit
    * only if shuffle bytes, not compute, become the bound.
    *
    * Result-identical to [[hotSpans]] unless two distinct spans collide in
    * 60 bits (birthday odds ~d²/2^61 for d distinct spans — ~5e-7 at a
    * billion distinct spans); a collision would merge the two spans' counts
    * under the lexicographically smaller representative. The right default
    * at corpus scale; use [[hotSpans]] when exact string keys are required.
    *
    * Output: (span, df, first_doc_id).
    */
  def hotSpansHashed(df: DataFrame, idCol: String, textCol: String, n: Int, minDf: Int): DataFrame = {
    require(n > 0 && minDf > 0, "need n > 0 and minDf > 0")
    spanPostings(df, idCol, textCol, n)
      .groupBy(graft.plans.HashExpressions.md5Prefix60(col("span")).as("__h"))
      .agg(min(col("span")).as("span"), count(lit(1)).as("df"), min(col("__doc_id")).as("first_doc_id"))
      .filter(col("df") >= minDf)
      .select(col("span"), col("df"), col("first_doc_id"))
  }

  /** Shared postings builder: one row per (doc, DISTINCT n-token span).
    * Tokens are bound to a real column before shingling — the transform
    * lambda in [[wordShinglesFromTokens]] would otherwise re-tokenize the
    * document once per span position (the engine's measured-10x HOF
    * binding rule, see [[qualityFeatures]]).
    */
  private def spanPostings(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .select(
        col(idCol).as("__doc_id"),
        explode(array_distinct(wordShinglesFromTokens(col("__toks"), n))).as("span")
      )

  /** Context-window chunking: split each document's token stream into
    * windows of `chunkSize` tokens advancing by `stride` (overlap =
    * chunkSize − stride) — the training-example splitter that turns a
    * document corpus into fixed-budget model inputs. One narrow pass:
    * tokenize once, generate chunk starts, posexplode. Documents with no
    * tokens produce no chunks; the final chunk is short rather than padded.
    *
    * Output: (idCol, chunk_id, chunk_start, n_chunk_tokens, chunk_tokens).
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize, "need 0 < stride <= chunkSize")
    val toks = col("__toks")
    val lastStart = (size(toks) - 1) - ((size(toks) - 1) % stride)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn(
        "__starts",
        when(size(toks) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), lastStart, lit(stride)))
      )
      .select(col(idCol), col("__toks"), posexplode(col("__starts")).as(Seq("chunk_id", "chunk_start")))
      .select(
        col(idCol),
        col("chunk_id"),
        col("chunk_start"),
        slice(col("__toks"), col("chunk_start") + 1, lit(chunkSize)).as("chunk_tokens")
      )
      .withColumn("n_chunk_tokens", size(col("chunk_tokens")))
  }

  /** Gopher-style heuristic quality gates (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 — the published rule-of-thumb corpus filters),
    * adapted to token-level signals:
    *
    *  - word count within [50, 100000]
    *  - mean word length within [3, 10] characters
    *  - fraction of characters in the single most frequent word 2-gram
    *    <= 0.20 (mode bigram; ties broken lexicographically so both engines
    *    agree)
    *  - duplicate-token fraction (1 - distinct/total) <= 0.30 — the
    *    token-level analogue of Gopher's duplicate line/paragraph fractions
    *    (this corpus has no line structure)
    *
    * All ratios exported as FLOOR(x*1e4) BIGINTs per the cross-engine
    * determinism rules. The per-doc mode bigram is computed distributed —
    * explode → partial-agg count → window partitioned BY DOCUMENT — so no
    * single-partition stage exists; every shuffle key is (doc) or
    * (doc,bigram), linear in the corpus at 100 TB.
    *
    * Output: (idCol, n_words, mean_word_len_e4, top_bigram_frac_e4,
    * dup_unigram_frac_e4, pass_word_count, pass_mean_word_len,
    * pass_repetition, pass_gopher).
    */
  def gopherQualityGates(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = col("__toks")
    val base = df
      .select(col(idCol), col(textCol).as("__text"))
      .withColumn("__toks", tokens(col("__text")))
      .withColumn("n_words", size(toks))
      .withColumn("__sumlen", aggregate(toks, lit(0L), (acc, x) => acc + length(x)))
      .withColumn("__ndup", (size(toks) - size(array_distinct(toks))).cast("long"))
    val topBigram = base
      .select(col(idCol), explode(wordShinglesFromTokens(toks, 2)).as("__bg"))
      .groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col(idCol)).orderBy(col("__c").desc, col("__bg").asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__bg"), col("__c"))
    val meanLenE4 =
      when(col("n_words") === 0, lit(0L))
        .otherwise(floor(col("__sumlen") * lit(10000.0) / col("n_words")))
        .cast("long")
    val topBgFracE4 =
      when(length(col("__text")) === 0, lit(0L))
        .otherwise(coalesce(floor(col("__c") * length(col("__bg")) * lit(10000.0) / length(col("__text"))), lit(0L)))
        .cast("long")
    val dupFracE4 =
      when(col("n_words") === 0, lit(0L))
        .otherwise(floor(col("__ndup") * lit(10000.0) / col("n_words")))
        .cast("long")
    base
      .join(topBigram, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_words"),
        meanLenE4.as("mean_word_len_e4"),
        topBgFracE4.as("top_bigram_frac_e4"),
        dupFracE4.as("dup_unigram_frac_e4")
      )
      .withColumn("pass_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn(
        "pass_mean_word_len",
        col("mean_word_len_e4") >= 30000L && col("mean_word_len_e4") <= 100000L
      )
      .withColumn(
        "pass_repetition",
        col("top_bigram_frac_e4") <= 2000L && col("dup_unigram_frac_e4") <= 3000L
      )
      .withColumn(
        "pass_gopher",
        col("pass_word_count") && col("pass_mean_word_len") && col("pass_repetition")
      )
  }

  /** Word-bigram postings: one row per (doc, bigram occurrence), with the
    * context word and successor split out for count joins. Tokens bound to
    * a real column once (HOF binding rule); docs with < 2 tokens emit
    * nothing.
    */
  def bigramOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .where(size(col("__toks")) >= 2)
      .select(
        col(idCol).as("__doc_id"),
        explode(
          expr("transform(sequence(0, size(__toks)-2), i -> struct(__toks[i] as w1, __toks[i+1] as w2))")
        ).as("__bg")
      )
      .select(col("__doc_id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))

  /** Corpus-trained bigram language-model scoring — the CCNet-style
    * (Wenzek et al. 2020) perplexity quality filter, self-trained so no
    * external model file is needed: P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V)
    * (add-one smoothing, V = unigram vocabulary size), and each document
    * scores its mean negative log-likelihood over its own bigrams.
    *
    * Cross-engine determinism: each bigram's NLL is quantized
    * independently — FLOOR(scale · −ln p) with p produced by ONE IEEE
    * division of exact integer operands — then summed as BIGINTs
    * (order-free), and the per-doc mean is BIGINT floor-division. No
    * double accumulates across rows.
    *
    * Scale shape: counts are built from per-doc partial counts (map-side
    * combine on (doc,w1,w2) first, so the global (w1,w2) shuffle moves one
    * row per doc-distinct bigram, not one per occurrence). The count
    * tables are vocabulary-sized — orders of magnitude smaller than a
    * 100 TB corpus — and join back against doc-distinct postings on
    * (w1,w2)/(w1); hot function-word keys stay one-row-per-key on the
    * build side so there is no skew explosion, and AQE picks
    * broadcast/shuffle per stats. The vocabulary count crosses in as a
    * broadcast 1-row relation, never a driver collect.
    *
    * Output: (idCol, n_bigrams, sum_nll_e5, avg_nll_e5, kept) for every
    * doc with ≥ 1 bigram; `kept` = avg_nll_e5 < keepBelowE5.
    */
  def bigramLmScore(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      keepBelowE5: Long = 800000L
  ): DataFrame = {
    val occ = bigramOccurrences(df, idCol, textCol)
    // per-doc distinct-bigram counts: the only occurrence-sized shuffle
    val perDoc = occ.groupBy(col("__doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("k"))
    val bigramCounts = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c12"))
    val contextCounts = bigramCounts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = df
      .withColumn("__toks", tokens(col(textCol)))
      .select(explode(col("__toks")).as("__tok"))
      .agg(countDistinct(col("__tok")).as("v"))
    perDoc
      .join(bigramCounts, Seq("w1", "w2"))
      .join(contextCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn(
        "lp_q",
        floor(
          lit(-100000.0) * log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
        ).cast("long")
      )
      .groupBy(col("__doc_id").as(idCol))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("lp_q")).as("sum_nll_e5"))
      .withColumn("avg_nll_e5", expr("sum_nll_e5 div n_bigrams"))
      .withColumn("kept", col("avg_nll_e5") < keepBelowE5)
  }

  /** Heavy hitters audited through a Count-Min Sketch (Cormode &
    * Muthukrishnan 2005) — the mergeable-sketch path for token frequency
    * at corpus scale: `stat.countMinSketch` aggregates a fixed
    * O(depth·width) table per partition and merges by cell-wise addition
    * (one reduction, no token-keyed shuffle), so the frequency structure
    * of a 100 TB corpus fits in kilobytes regardless of vocabulary size.
    *
    * Output: the exact top-k tokens (count desc, token asc — the exact
    * side is the audit baseline and what the oracle replays) with
    * `est_ok` asserting the sketch's guarantee held for that token:
    * exact <= estimate <= exact + ceil(eps·N), N = total token count from
    * the sketch itself. CMS never under-counts (est >= exact always);
    * the upper bound holds with the configured confidence per query, and
    * under a FIXED seed the whole computation is deterministic — so the
    * oracle pins `est_ok` to literal true and any bound violation fails
    * the hash gate instead of hiding in a tolerance. Driver work is
    * bounded: the sketch object plus k collected rows.
    */
  def heavyHittersCms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      eps: Double = 0.001,
      confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(k > 0 && eps > 0 && eps < 1, s"heavyHittersCms: bad k=$k / eps=$eps")
    val spark = docs.sparkSession
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val sketch = toks.stat.countMinSketch("token", eps, confidence, seed)
    val bound = math.ceil(eps * sketch.totalCount()).toLong
    val top = toks
      .groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(k)
      .collect()
    val rows = top.map { r =>
      val (token, exact) = (r.getString(0), r.getLong(1))
      val est = sketch.estimateCount(token)
      (token, exact, est >= exact && est <= exact + bound)
    }
    import spark.implicits._
    rows.toSeq.toDF("token", "exact_cnt", "est_ok")
  }

  /** DISTRIBUTED BPE MERGE TRAINING (Sennrich et al. 2016) — the training
    * counterpart of [[graft.plans.Bpe]]'s apply path: learn the first
    * `nMerges` byte-pair merges from the corpus itself. Classic algorithm,
    * distributed shape:
    *   - the unit of work is the WORD-FREQUENCY table (distinct words +
    *     counts), which is what makes this scale: pair statistics are
    *     Σ freq over vocab rows, never a pass over raw text after the
    *     first tokenization. `minFreq` prunes the long typo tail at web
    *     scale (billions of distinct "words") before the loop;
    *   - each round is ONE vocab-sized job: adjacent-pair counts weighted
    *     by word frequency (overlapping positions counted, as in the
    *     reference implementation), then the argmax merge comes back as a
    *     single driver row (count desc, pair asc tie-break — total order,
    *     deterministic);
    *   - the merge applies to the vocab left-to-right non-overlapping,
    *     and the new vocab is checkpointed so the plan doesn't grow with
    *     rounds (the [[Dedup.duplicateGroups]] lineage discipline).
    *
    * Output: (step, lhs, rhs, pair_count) — the learned merge table, in
    * order. Symbols start as single code points (no end-of-word marker —
    * a documented simplification; merges never cross word boundaries
    * either way). The DuckDB oracle replays every round: same pair
    * statistics, same argmax, same left-to-right application via an
    * unrolled recursive CTE per step.
    */
  def trainBpeMerges(docs: DataFrame, textCol: String, nMerges: Int, minFreq: Long = 1L): DataFrame = {
    require(nMerges >= 1 && nMerges <= 64, s"trainBpeMerges: nMerges=$nMerges out of range")
    val spark = docs.sparkSession
    import spark.implicits._
    def chars(w: String): Seq[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toSeq
    var words: org.apache.spark.sql.Dataset[(Seq[String], Long)] = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)]
      .map { case (w, f) => (chars(w), f) }
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = words.toDF("syms", "freq")
        .filter(size(col("syms")) >= 2)
        .select(explode(expr("transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect() // exactly one driver row per round, by construction
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((step.toLong, l, r, c))
        words = words
          .map { case (syms, f) => (applyMergeOnce(syms, l, r), f) }
          .localCheckpoint(true)
        step += 1
      }
    }
    learned.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** One merge (l, r) -> l+r applied left-to-right, non-overlapping. */
  private[graft] def applyMergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Collocation mining by LIFT — the exact-arithmetic PMI variant:
    *   lift(a,b) = p(ab) / (p(a) p(b))
    *             = (c_ab * N_uni^2) / (N_big * c_a * c_b)
    * exp(PMI), monotone in PMI, but computable without `ln` — the one
    * transcendental whose libm rounding differs across engines. All six
    * factors are exact counts (< 2^53, so their DOUBLE images are exact),
    * the products associate left in both engines, and IEEE guarantees
    * correctly-rounded * and /, so the floored e6 value replays
    * bit-identically in SQL.
    *
    * Scale shape: one shuffle for bigram counts, one for unigram counts
    * (vocab-bounded result, broadcast back), two single-row count
    * aggregates. `minCount` prunes the hapax tail BEFORE the join.
    */
  def collocationsByLift(docs: DataFrame, textCol: String, minCount: Long = 5L): DataFrame = {
    val ws = tokens(col(textCol))
    val toksOnly = docs.select(ws.as("ws"))
    val uni = toksOnly.select(explode(col("ws")).as("w"))
    val uniCnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nUni = uni.agg(count(lit(1)).as("n_uni"))
    val bi = toksOnly
      .filter(size(col("ws")) >= 2)
      .select(explode(expr("transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val nBig = bi.agg(count(lit(1)).as("n_big"))
    val biCnt = bi
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val lift =
      (col("n_ab").cast("double") * col("n_uni").cast("double") * col("n_uni").cast("double")) /
        (col("n_big").cast("double") * col("ca").cast("double") * col("cb").cast("double"))
    biCnt
      .join(broadcast(uniCnt.select(col("w").as("w1"), col("c").as("ca"))), "w1")
      .join(broadcast(uniCnt.select(col("w").as("w2"), col("c").as("cb"))), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .select(
        col("w1"), col("w2"), col("n_ab"),
        floor(lit(1000000.0) * lift).cast("long").as("lift_e6")
      )
  }

  /** GOPHER REPETITION SIGNALS (Rae et al. 2021 "Scaling Language Models"
    * table A1 repetition filters, deterministic variant) — the n-gram
    * char-mass statistics that complete [[gopherQualityGates]]'s
    * repetition family: for n in {2,3,4} the character fraction of the
    * MOST FREQUENT word n-gram (`top{n}_frac_e4`); for n in {5..10} the
    * character fraction of DUPLICATED n-gram occurrences
    * (`dup{n}_frac_e4`). Reference quality screens: aws_datalake has no
    * equivalent; this is engine-native pretraining-corpus surface.
    *
    * Deterministic choices (cross-engine exactness):
    *  - characters are measured over the whitespace-normalized token
    *    join: sum(token lengths) + (n_tokens - 1) single separators;
    *  - duplicate mass counts every occurrence beyond the first at full
    *    gram char length (overlapping spans are NOT collapsed — a sum,
    *    not a span union, so it is order-free);
    *  - the top gram is max-by-count; an equal-count tie resolves to the
    *    LONGEST gram, which maximizes — and therefore uniquely defines —
    *    the reported mass (no lexicographic tie-break needed);
    *  - fractions exported FLOOR(x*1e4) BIGINT per the determinism rules.
    *
    * Thresholds are the paper's: top 2/3/4-gram <= 0.20/0.18/0.16, dup
    * 5..10-gram <= 0.15/0.14/0.13/0.12/0.11/0.10; `pass_repetition_full`
    * ANDs all nine.
    *
    * SCALE: ZERO shuffles — every signal is a per-row higher-order-
    * function fold over the bound token array (O(grams x distinct) per
    * document inside one codegen'd projection); the corpus never leaves
    * its input partitioning, so the operator costs exactly one scan at
    * 100 TB. Pathological single documents (millions of tokens) pay a
    * per-row quadratic — chunk such docs upstream before screening.
    */
  def repetitionSignals(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // ALL NINE masses + the normalized char count come from ONE fused
    // imperative pass per row ([[graft.plans.RepetitionStats]]) — the
    // HOF formulations that preceded it (first a transform/filter
    // quadratic, then a sorted aggregate fold) paid interpreted-lambda
    // overhead per element x nine n values (~1 ms/row); the custom
    // Expression runs inside codegen at tens of µs/row with identical
    // values (the oracle still replays the per-row list folds in SQL).
    val bound = df
      .select(col(idCol), col(textCol).as("__text"))
      .withColumn("__toks", tokens(col("__text")))
      .withColumn("__st", graft.plans.RepetitionStats.repetitionStats(col("__toks")))
      .withColumn("__norm", element_at(col("__st"), 10))
    def fracE4(slot: Int): Column =
      when(col("__norm") === 0L, lit(0L))
        .otherwise(floor(element_at(col("__st"), slot) * lit(10000.0) / col("__norm")))
        .cast("long")
    val topThr = Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L)
    val dupThr = Map(5 -> 1500L, 6 -> 1400L, 7 -> 1300L, 8 -> 1200L, 9 -> 1100L, 10 -> 1000L)
    // slot layout (1-based element_at): top2..top4 at 1..3, dup5..dup10 at 4..9
    val topCols = Seq(2, 3, 4).map(n => fracE4(n - 1).as(s"top${n}_frac_e4"))
    val dupCols = (5 to 10).map(n => fracE4(n - 1).as(s"dup${n}_frac_e4"))
    val out = bound.select((col(idCol) +: (topCols ++ dupCols)): _*)
    val pass = (Seq(2, 3, 4).map(n => col(s"top${n}_frac_e4") <= lit(topThr(n))) ++
      (5 to 10).map(n => col(s"dup${n}_frac_e4") <= lit(dupThr(n)))).reduce(_ && _)
    out.withColumn("pass_repetition_full", pass)
  }

  /** FASTTEXT-STYLE HASHED LINEAR CLASSIFIER inference (Joulin et al.
    * 2016 fastText / the CCNet & GPT-3 quality-classifier serving shape):
    * features are word unigrams plus word bigrams hashed into `buckets`
    * slots (portable md5-prefix hash mod a power of two), the model is a
    * dense weight vector indexed by slot, the document score is the MEAN
    * feature weight, and `keep` thresholds it at zero. This is the
    * inference dataflow every learned corpus filter runs at 100 TB:
    * per-row tokenize → hash → O(1) lookup into a BROADCAST weight
    * array → fold. No trained model ships in this container, so the
    * weight vector is a deterministic fixture (`w(b) = (b*2654435761 mod
    * 2001) - 1000`, a centered [-1000,1000] ramp) — swap in real learned
    * weights without touching the plan.
    *
    * SCALE: zero shuffles — the weight array is a plan literal (the
    * broadcast), scoring is one codegen'd projection per scan; score
    * arithmetic is integer-sum + one FLOOR(x*1e4) division, so results
    * are bit-identical across engines and partitionings.
    */
  def hashedLinearScore(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 4096
  ): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0, s"buckets must be a power of two, got $buckets")
    val weights: Array[Long] = Array.tabulate(buckets)(b => ((b.toLong * 2654435761L) % 2001L) - 1000L)
    val toks = col("__toks")
    val slot = (f: Column) =>
      element_at(lit(weights), (graft.plans.HashExpressions.md5Prefix60(f) % buckets).cast("int") + 1)
    df.select(col(idCol), col(textCol).as("__text"))
      .withColumn("__toks", tokens(col("__text")))
      .withColumn("__feats", concat(toks, wordShinglesFromTokens(toks, 2)))
      .withColumn("n_feats", size(col("__feats")).cast("long"))
      .withColumn("__wsum", aggregate(col("__feats"), lit(0L), (a, f) => a + slot(f)))
      .select(
        col(idCol),
        col("n_feats"),
        when(col("n_feats") === 0L, lit(0L))
          .otherwise(floor(col("__wsum") * lit(10000.0) / col("n_feats")))
          .cast("long")
          .as("score_e4")
      )
      .withColumn("keep", col("n_feats") > 0L && col("score_e4") >= 0L)
  }

  /** DISTRIBUTED LINEAR-PROBE TRAINING — the training half of
    * [[hashedLinearScore]]'s serving dataflow (fastText-shape): full-batch
    * gradient descent on square loss over hashed unigram+bigram counts,
    * in FIXED-POINT integer arithmetic so the learned weights are
    * bit-identical across engines, partitionings, and replays (no float
    * summation order anywhere).
    *
    * Shape per iteration (the classical distributed-GD layout — model on
    * the driver, data never moves): (1) the current weight vector enters
    * the plan as a broadcast literal (O(buckets), like the serving path);
    * (2) one aggregation computes per-doc predictions (map-side partial
    * agg over the cached feature relation); (3) one aggregation folds the
    * per-bucket gradient `sum(x * err)`; (4) the ≤`buckets` gradient rows
    * collect to the driver (bounded by construction) and update `w` by
    * exact floor division `w -= floor(grad / (N * lrDen))`. Weights are
    * e6-scaled longs; gradients accumulate in DECIMAL(38,0).
    *
    * SCALE: k passes over the feature relation, each two shuffles
    * (doc-grouped predictions, bucket-grouped gradients) with map-side
    * combine; the model state is O(buckets) on the driver regardless of
    * corpus size — the same contract MLlib's gradient aggregation makes.
    * `lrDen` must satisfy the GD stability bound (1/lrDen < 2/max-row-
    * norm²; the default 1024 is safe for typical doc lengths).
    *
    * @param labelCol 0/1 long column (the fixture target; swap in any
    *                 deterministic label without touching the plan)
    * @return (bucket, w_e6) — final weights for every bucket that carries
    *         at least one feature
    */
  def trainHashedLinear(
      df: DataFrame,
      labelCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 4096,
      iters: Int = 4,
      lrDen: Long = 1024L
  ): DataFrame = graft.core.Caching.scoped {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0, s"buckets must be a power of two, got $buckets")
    require(iters >= 1 && iters <= 64, s"trainHashedLinear: iters=$iters out of range")
    require(lrDen >= 1L, s"trainHashedLinear: lrDen=$lrDen must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = col("__toks")
    val base = df.select(
      col(idCol).as("__id"),
      (col(labelCol).cast("long") * lit(1000000L)).as("__y6"),
      col(textCol).as("__text"))
    // Both cached frames are REPARTITIONED BY __id before the cache
    // (round-18, guide §2.4 "two operations keyed the same way share one
    // exchange"): every iteration's prediction aggregation groups feats by
    // __id and the gradient join keys feats⋈err by __id — with the cache
    // already hash-partitioned on __id, the per-iteration plans need no
    // exchange of the corpus-sized feature frame at all (only the
    // doc-count-sized err/preds frames move), where previously each of the
    // k iterations re-shuffled feats twice.
    // The __id repartition sits BELOW the (id, bucket) aggregation
    // (round-19): hash partitioning on __id alone satisfies the grouping's
    // clustered distribution, so the aggregate runs exchange-free on the
    // repartitioned rows and the frame persists already keyed by __id —
    // ONE exchange of the feature rows instead of the round-18 two
    // (partial-agg exchange on (id,bucket), then a second full exchange
    // re-keying the aggregated frame to __id).
    val feats = graft.core.Caching.cached(base
      .withColumn("__toks", tokens(col("__text")))
      .withColumn("__feat", explode(concat(toks, wordShinglesFromTokens(toks, 2))))
      .select(
        col("__id"),
        (graft.plans.HashExpressions.md5Prefix60(col("__feat")) % buckets).cast("int").as("bucket"))
      .repartition(col("__id"))
      .groupBy(col("__id"), col("bucket"))
      .agg(count(lit(1)).as("__x")))
    // labels are cached too: without it each of the k gradient jobs (plus the
    // count) re-scans and re-projects the source — k+1 redundant corpus
    // passes on the timed training path
    val labels = graft.core.Caching.cached(base.select(col("__id"), col("__y6")).repartition(col("__id")))
    val d = BigInt(labels.count()) * lrDen
    val w = Array.fill(buckets)(0L)
    for (_ <- 1 to iters) {
      val wv = element_at(lit(w), col("bucket") + 1)
      val preds = feats
        .withColumn("__wv", wv)
        .groupBy(col("__id"))
        .agg(sum(col("__x") * col("__wv")).as("__pred6"))
      val err = labels
        .join(preds, Seq("__id"), "left")
        .select(col("__id"), (coalesce(col("__pred6"), lit(0L)) - col("__y6")).as("__e6"))
      val grads = feats
        .join(err, "__id")
        .groupBy(col("bucket"))
        .agg(sum((col("__x") * col("__e6")).cast("decimal(38,0)")).as("__g"))
        .collect() // bounded: at most `buckets` rows
      grads.foreach { r =>
        val b = r.getInt(0)
        val g = BigInt(r.getDecimal(1).toBigInteger)
        // exact floor division, portable sign convention
        w(b) = w(b) - ((g - ((g % d + d) % d)) / d).toLong
      }
    }
    feats.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
      .map(b => (b.toLong, w(b))).toSeq
      .toDF("bucket", "w_e6")
  }

  /** DATASET CARD — the per-source datasheet every corpus release ships:
    * document and token counts, language mix, exact-duplicate rate (via
    * the q30/q125 normalized-text fingerprint), and a simple length-gate
    * quality share, all as exact integers (e4-scaled shares via integer
    * `div`, so the card is bit-reproducible cross-engine).
    *
    * SCALE: ONE hash aggregation per source (map-side partial; the
    * distinct-fingerprint side is a (source, fp) pre-aggregation —
    * shuffle keyed on the pair, never a global distinct), output
    * O(sources) rows at any corpus size.
    */
  def datasetCard(
      df: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      langCol: String = "lang",
      nCharsCol: String = "n_chars" // stored length — cross-engine-stable gate input
  ): DataFrame = {
    val base = df.select(
      col(sourceCol).as("source"),
      col(langCol).as("lang"),
      col(nCharsCol).cast("long").as("__len"),
      col(textCol).as("__text"))
      .withColumn("__tok", tokenCount(col("__text")))
      .withColumn("__fp", md5(regexp_replace(lower(col("__text")), "[^a-z0-9]", "")))
    val stats = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__tok")).cast("long").as("total_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__en"),
      sum(when(col("__len").between(100L, 20000L), 1L).otherwise(0L)).as("__ok"))
    val distincts = base.select(col("source"), col("__fp")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_distinct_text"))
    stats.join(distincts, "source")
      .select(
        col("source"), col("n_docs"), col("total_tokens"), col("n_langs"), col("n_distinct_text"),
        expr("(__en * 10000L) div n_docs").as("en_share_e4"),
        expr("((n_docs - n_distinct_text) * 10000L) div n_docs").as("dup_rate_e4"),
        expr("(__ok * 10000L) div n_docs").as("quality_share_e4"))
  }

  /** T5-STYLE SPAN CORRUPTION (Raffel et al. 2020): the seq2seq
    * denoising objective's data transform — fixed-length token spans are
    * selected deterministically (portable md5(seed:doc:span) indicator,
    * NO RNG, so the corruption replays bit-identically across engines,
    * epochs resume after a crash, and a loss spike can be traced to its
    * exact batch) and each masked span is replaced by one `<extra_id_K>`
    * sentinel in the input while the target sequence lists
    * `<extra_id_K> original tokens...` in order.
    *
    * SCALE: one explode + one window + one reassembly aggregation — two
    * exchanges on the doc key, span text moves exactly once each way.
    * The indicator is computed per span, not per token, so the hash
    * work is tokens/spanLen regardless of rate.
    */
  def spanCorrupt(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seed: String,
      rateE4: Long,
      spanLen: Int
  ): DataFrame = {
    val ws = tokens(col(textCol))
    val spans = df
      .select(col(idCol).as("__sc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn(
        "__sp",
        explode(expr(s"sequence(0, (size(__ws) + ${spanLen - 1}) div $spanLen - 1)"))
      )
      .withColumn("__stext", expr(s"concat_ws(' ', slice(__ws, __sp * $spanLen + 1, $spanLen))"))
      .withColumn(
        "__masked",
        pmod(
          graft.plans.HashExpressions.md5Prefix60(
            concat(lit(seed), lit(":"), col("__sc_id").cast("string"), lit(":"), col("__sp").cast("string"))),
          lit(10000L)
        ) < rateE4
      )
      .drop("__ws")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sc_id"))
      .orderBy(col("__sp"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val indexed = spans.withColumn(
      "__k",
      (sum(when(col("__masked"), 1L).otherwise(0L)).over(w) - 1L)
    )
    val sentinel = concat(lit("<extra_id_"), col("__k").cast("string"), lit(">"))
    indexed
      .withColumn("__in_elem", when(col("__masked"), sentinel).otherwise(col("__stext")))
      .withColumn("__tg_elem", when(col("__masked"), concat(sentinel, lit(" "), col("__stext"))))
      .groupBy(col("__sc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__masked"), 1L).otherwise(0L)).as("n_masked"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("__sp"), col("__in_elem")))), x => x.getField("__in_elem"))).as("input_text"),
        concat_ws(" ", transform(array_sort(collect_list(when(col("__masked"), struct(col("__sp"), col("__tg_elem"))))), x => x.getField("__tg_elem"))).as("target_text")
      )
      .select(
        col("__sc_id").as(idCol),
        col("n_spans"),
        col("n_masked"),
        col("input_text"),
        col("target_text")
      )
  }

  /** LINE-LEVEL corpus dedup (the CCNet / RefinedWeb boilerplate strip,
    * Wenzek et al. 2020): lines whose corpus-wide occurrence count
    * exceeds `maxDf` are boilerplate — headers, nav bars, cookie banners,
    * license blurbs — and are removed from EVERY document; surviving
    * lines are reassembled in original order. This is the complement of
    * doc-level dedup: it rescues the unique content of pages that share
    * chrome, where whole-doc near-dup would either keep the chrome or
    * drop the page.
    *
    * Occurrences are counted per (doc, position) — a line repeated inside
    * one document counts each time, matching the shard-level CCNet
    * behavior and keeping the operator exactly replayable in SQL.
    *
    * SCALE: three aggregation-shaped exchanges, each on a hashed 8-byte
    * key, never on line text — (1) the line-hash count (map-side partial
    * combine), (2) the mark-back join against the doomed set, which is
    * the boilerplate TAIL (df > maxDf) and therefore orders of magnitude
    * smaller than the line table — AQE turns the join broadcast when it
    * fits, and we deliberately do NOT force the hint so an adversarial
    * corpus with a huge doomed set degrades to a shuffled join instead
    * of an executor OOM — and (3) the per-doc reassembly. Only (3)
    * carries line text, and it moves each line exactly once.
    */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Long,
      sep: String = "\n"
  ): DataFrame = {
    val lines = df
      .select(col(idCol).as("__ld_id"), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
      .withColumn("__h", graft.plans.HashExpressions.md5Prefix60(col("__line")))
    val doomed = lines
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__h"), lit(true).as("__doomed"))
    lines
      .join(doomed, Seq("__h"), "left")
      .groupBy(col("__ld_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__doomed"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(
          sep,
          transform(
            array_sort(collect_list(when(col("__doomed").isNull, struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")
          )
        ).as("new_text")
      )
      .select(
        col("__ld_id").as(idCol),
        col("n_lines"),
        (col("n_lines") - col("n_dropped")).as("n_kept"),
        col("n_dropped"),
        col("new_text")
      )
  }
}
