package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality layer (SURVEY.md §2.4 A2-A4, §3.2).
  *
  * The reference runs Great Expectations suites per micro-batch on Spark
  * DataFrames (great_expectations.py:238-340): each expectation triggers its
  * own Spark aggregation pass. Here a whole suite compiles into ONE
  * `df.agg(...)` pass — every expectation contributes a couple of conditional
  * count expressions, so a 30-expectation suite still scans the batch exactly
  * once. Uniqueness checks need a shuffle (groupBy key) and are computed in a
  * second single pass over the distinct-key aggregation.
  *
  * Results mirror the reference's persisted shape
  * (great_expectations.py:318-335): file_identifier, batchID, column_name,
  * expectation_type, success, element_count, unexpected_count.
  */
sealed trait Expectation {
  def columnName: String
  def name: String

  /** The expectation's kwargs as a canonical JSON string — the reference
    * persists `expectation_config.kwargs` into its results table
    * (great_expectations.py:313-335); doubles print in Scala's Double
    * notation, mirrored by the oracle SQL. All string fields go through the
    * shared [[graft.core.Json]] escaper (column names and regexes may
    * contain quotes/control characters).
    */
  def kwargsJson: String = s"""{"column": ${graft.core.Json.str(columnName)}}"""
}
final case class NotNull(columnName: String) extends Expectation {
  val name = "expect_column_values_to_not_be_null"
}
final case class Unique(columnName: String) extends Expectation {
  val name = "expect_column_values_to_be_unique"
}
final case class Matches(columnName: String, regex: String) extends Expectation {
  val name = "expect_column_values_to_match_regex"
  override def kwargsJson: String =
    s"""{"column": ${graft.core.Json.str(columnName)}, "regex": ${graft.core.Json.str(regex)}}"""
}
final case class Between(columnName: String, lo: Double, hi: Double) extends Expectation {
  val name = "expect_column_values_to_be_between"
  override def kwargsJson: String =
    s"""{"column": ${graft.core.Json.str(columnName)}, "min_value": $lo, "max_value": $hi}"""
}

/** One expectation outcome, matching the reference's persisted shape
  * (great_expectations.py:313-335): the seven core fields plus
  * `great_exp_id` (the GX-internal batch id carried in expectation kwargs),
  * the expectation kwargs themselves, and the checkpoint run name. All
  * identifiers are deterministic functions of (fileIdentifier, batchId) so
  * result tables stay replayable/hash-comparable.
  */
final case class DqResult(
    fileIdentifier: String,
    batchId: String,
    columnName: String,
    expectationType: String,
    success: Boolean,
    elementCount: Long,
    unexpectedCount: Long,
    greatExpId: String,
    expectationKwargs: String,
    runName: String
)

object DqSuite {

  /** Run a suite: one global agg for row-scoped expectations plus one
    * grouped agg per uniqueness check; when the suite needs multiple passes
    * the batch is cached so each pass doesn't recompute the source.
    */
  def run(df0: DataFrame, expectations: Seq[Expectation], batchId: String, fileIdentifier: String): Seq[DqResult] =
    graft.core.Caching.scoped {
      val rowScoped = expectations.filter(!_.isInstanceOf[Unique])
      val uniques = expectations.collect { case u: Unique => u }
      val passes = (if (rowScoped.nonEmpty) 1 else 0) + uniques.size
      val df = if (passes > 1) graft.core.Caching.cached(df0) else df0
      runOn(df, rowScoped, uniques, batchId, fileIdentifier)
    }

  /** Deterministic GX-style identifiers (reference: opaque GX batch ids /
    * checkpoint run names; here pure functions of the inputs so replays
    * produce identical result rows).
    */
  private def greatExpId(fileIdentifier: String, batchId: String) = s"graft-$fileIdentifier-$batchId"
  private def runName(batchId: String) = s"graft-checkpoint-$batchId"

  private def result(e: Expectation, batchId: String, fileIdentifier: String, n: Long, u: Long): DqResult =
    DqResult(
      fileIdentifier, batchId, e.columnName, e.name, u == 0, n, u,
      greatExpId(fileIdentifier, batchId), e.kwargsJson, runName(batchId)
    )

  private def runOn(
      df: DataFrame,
      rowScoped: Seq[Expectation],
      uniques: Seq[Unique],
      batchId: String,
      fileIdentifier: String
  ): Seq[DqResult] = {

    val rowResults: Seq[DqResult] =
      if (rowScoped.isEmpty) Nil
      else {
        val aggs: Seq[Column] = count(lit(1)).as("__n") +: rowScoped.zipWithIndex.map { case (e, i) =>
          val unexpected: Column = e match {
            case NotNull(c)       => count(when(col(c).isNull, 1))
            case Matches(c, re)   => count(when(col(c).isNotNull && !col(c).rlike(re), 1))
            case Between(c, l, h) => count(when(col(c).isNotNull && (col(c) < l || col(c) > h), 1))
            case _                => lit(0L)
          }
          unexpected.as(s"__u$i")
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(0)
        rowScoped.zipWithIndex.map { case (e, i) =>
          result(e, batchId, fileIdentifier, n, row.getLong(i + 1))
        }
      }

    val uniqueResults: Seq[DqResult] = uniques.map { u =>
      // GX column_map semantics: nulls are not "duplicates" — only repeated
      // NON-NULL values count as unexpected; element_count stays total rows
      // internal alias is __-prefixed so it can't collide with a validated
      // column literally named "c" (which would make every reference below
      // ambiguous and fail the whole suite)
      val agg = df
        .groupBy(col(u.columnName))
        .agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum("__cnt"), lit(0L)).as("n"),
          coalesce(sum(when(col(u.columnName).isNotNull && col("__cnt") > 1, col("__cnt"))), lit(0L)).as("dups")
        )
        .head()
      result(u, batchId, fileIdentifier, agg.getLong(0), agg.getLong(1))
    }

    rowResults ++ uniqueResults
  }

  /** Results as a DataFrame for the append sink (S12: mode=append +
    * mergeSchema, great_expectations.py:337-338).
    */
  def resultsDf(spark: org.apache.spark.sql.SparkSession, rs: Seq[DqResult]): DataFrame = {
    import spark.implicits._
    rs.toDF(
      "file_identifier", "batchID", "column_name", "expectation_type",
      "success", "element_count", "unexpected_count",
      "great_exp_id", "expectation_kwargs", "run_name"
    )
  }

  /** Build a suite from hot-loaded config rows (ST3: great_expectations.py:208-217). */
  def fromConfig(rules: Seq[graft.core.DqRule]): Seq[Expectation] =
    rules.filter(_.active).flatMap { r =>
      r.formattingRule match {
        case "not_null" => Some(NotNull(r.colName))
        case "unique"   => Some(Unique(r.colName))
        case m if m.startsWith("matches:") => Some(Matches(r.colName, m.stripPrefix("matches:")))
        case m if m.startsWith("between:") =>
          m.stripPrefix("between:").split(':') match {
            // non-numeric bounds are malformed config, not a stream-killer:
            // skip like every other bad rule shape (hot-loaded rows arrive
            // inside foreachBatch, where a throw fails the whole query)
            case Array(lo, hi) =>
              scala.util.Try(Between(r.colName, lo.toDouble, hi.toDouble)).toOption
            case _ => None
          }
        case _ => None
      }
    }

  /** SNAPSHOT DRIFT between two table states (e.g. two warehouse
    * versions): evaluate the same metric set against both snapshots in
    * one aggregation pass each, emit long-format
    * (metric, from_value, to_value, delta) rows — the between-commits DQ
    * regression check a nightly load gates on (row-count collapse, key
    * loss, value drift). Metrics are caller-supplied aggregate Columns,
    * so the helper is table-agnostic; both aggregations reduce to ONE
    * row before the driver-free cross join, so cost is two scans and no
    * shuffle beyond the partial aggs.
    */
  def versionDrift(from: DataFrame, to: DataFrame, metrics: Seq[(String, Column)]): DataFrame = {
    require(metrics.nonEmpty, "versionDrift: no metrics")
    def stats(df: DataFrame, prefix: String): DataFrame = {
      val aggs = metrics.map { case (name, c) => c.cast("long").as(s"$prefix$name") }
      df.agg(aggs.head, aggs.tail: _*)
    }
    val rows = explode(array(metrics.map { case (name, _) =>
      struct(
        lit(name).as("metric"),
        col(s"__f_$name").as("from_value"),
        col(s"__t_$name").as("to_value"),
        (col(s"__t_$name") - col(s"__f_$name")).as("delta")
      )
    }: _*))
    stats(from, "__f_")
      .crossJoin(stats(to, "__t_"))
      .select(rows.as("r"))
      .select(col("r.metric"), col("r.from_value"), col("r.to_value"), col("r.delta"))
  }

  /** EQUI-WIDTH HISTOGRAM of an integer-cents metric — the distribution
    * profile a DQ dashboard or drift monitor plots: `bins` equal-width
    * buckets over [loCents, hiCents), out-of-range values clamped into
    * the edge buckets (so totals reconcile with row counts), empty
    * buckets emitted with n = 0 (a plot with silent gaps misreads).
    * All-integer bucket arithmetic — cross-engine exact.
    *
    * SCALE: one aggregation with at most `bins` groups; partial
    * aggregation reduces map-side, the empty-bucket densify is a
    * `bins`-row broadcast join. One scan, O(bins) output.
    */
  def histogram(df: org.apache.spark.sql.DataFrame, valueCents: Column, loCents: Long, hiCents: Long, bins: Int): org.apache.spark.sql.DataFrame = {
    require(bins >= 1 && hiCents > loCents, s"need bins >= 1 and hi > lo, got bins=$bins [$loCents,$hiCents)")
    val width = hiCents - loCents
    require(width <= Long.MaxValue / bins, s"bins*width overflows long: [$loCents,$hiCents) x $bins")
    // clamp the VALUE into [lo, hi) first, then bin: the multiply is then
    // bounded by bins*width (guarded above). Clamping the BIN after the
    // multiply let an extreme caller-supplied valueCents overflow
    // (v-lo)*bins — wrapping to a wrong bucket, or throwing under ANSI
    // mode, before LEAST/GREATEST could repair it (ADVICE r10).
    val bin = expr(
      s"((LEAST(${hiCents - 1}L, GREATEST(${loCents}L, __v)) - ${loCents}L) * ${bins}L) div ${width}L")
    val counts = df
      .select(valueCents.cast("long").as("__v"))
      .select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    val grid = spark.range(bins).select(col("id").as("bin"))
    grid
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        expr(s"${loCents}L + (bin * ${width}L) div ${bins}L").as("lo_edge_cents"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-key histogram partials for the PERSISTED ROLLUP (q171): the same
    * clamped-bin arithmetic as [[histogram]], grouped by a partition key
    * (e.g. day), SPARSE (bins with no rows write no state). The bounds are
    * CALLER-FIXED, not data-derived — that is what makes the partials
    * exactly mergeable: the same value maps to the same bin in every
    * partition forever, so merging is plain addition (no tolerance, no
    * sketch). Store these day-partitioned; serve ranges with
    * [[histogramMergeServe]].
    */
  def histogramByKey(
      df: org.apache.spark.sql.DataFrame,
      keyCol: Column,
      valueCents: Column,
      loCents: Long,
      hiCents: Long,
      bins: Int
  ): org.apache.spark.sql.DataFrame = {
    require(bins >= 1 && hiCents > loCents, s"need bins >= 1 and hi > lo, got bins=$bins [$loCents,$hiCents)")
    val width = hiCents - loCents
    require(width <= Long.MaxValue / bins, s"bins*width overflows long: [$loCents,$hiCents) x $bins")
    val bin = expr(
      s"((LEAST(${hiCents - 1}L, GREATEST(${loCents}L, __v)) - ${loCents}L) * ${bins}L) div ${width}L")
    df.select(keyCol.as("key"), valueCents.cast("long").as("__v"))
      .select(col("key"), bin.as("bin"))
      .groupBy(col("key"), col("bin")).agg(count(lit(1)).as("n"))
  }

  /** DISTRIBUTION DRIFT between a reference and a current slice of the
    * same feature — the training-data monitoring gate ("did this week's
    * crawl shift the length distribution?"). Both sides histogram on the
    * SAME fixed integer grid ([[histogram]]'s clamped-bin arithmetic),
    * shares are e4-floored integers, and the distance is the exact
    * TOTAL-VARIATION DISTANCE: tvd_e4 = sum(|p - q|) / 2 over e4 shares.
    * TVD instead of PSI/KL by design: no logarithm means no libm
    * rounding, so the published drift number is bit-identical across
    * engines (the same trade as collocationsByLift's exp-free lift) —
    * and TVD is a real metric with the clean reading "fraction of mass
    * that moved".
    *
    * Output: one row per bin with both sides' counts and shares plus the
    * (identical) tvd_e4 summary column — self-contained for a drift
    * dashboard or a threshold gate. SCALE: two map-side-combinable
    * histogram aggregations, then O(bins) arithmetic; row data moves
    * never.
    */
  def distributionDrift(
      ref: org.apache.spark.sql.DataFrame,
      cur: org.apache.spark.sql.DataFrame,
      valueCents: Column,
      loCents: Long,
      hiCents: Long,
      bins: Int
  ): org.apache.spark.sql.DataFrame = {
    val r = histogram(ref, valueCents, loCents, hiCents, bins)
      .select(col("bin"), col("lo_edge_cents"), col("n").as("ref_n"))
    val c = histogram(cur, valueCents, loCents, hiCents, bins)
      .select(col("bin"), col("n").as("cur_n"))
    val joined = r
      .join(c, "bin")
      .withColumn("__rt", sum(col("ref_n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__ct", sum(col("cur_n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("ref_share_e4", expr("CASE WHEN __rt = 0 THEN 0L ELSE (ref_n * 10000L) div __rt END"))
      .withColumn("cur_share_e4", expr("CASE WHEN __ct = 0 THEN 0L ELSE (cur_n * 10000L) div __ct END"))
      .withColumn("abs_delta_e4", abs(col("cur_share_e4") - col("ref_share_e4")))
    joined
      .withColumn("__sumd", sum(col("abs_delta_e4")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("tvd_e4", expr("__sumd div 2L")) // integer halving — no double division
      .select(
        col("bin"), col("lo_edge_cents"), col("ref_n"), col("cur_n"),
        col("ref_share_e4"), col("cur_share_e4"), col("abs_delta_e4"), col("tvd_e4"))
  }

  /** Range serve over stored [[histogramByKey]] partials: exact merge by
    * addition, densified to the full bin grid with edges. `stored` is the
    * union of the range's day partitions — O(days × bins) rows, never the
    * raw events.
    */
  def histogramMergeServe(
      stored: org.apache.spark.sql.DataFrame,
      loCents: Long,
      hiCents: Long,
      bins: Int
  ): org.apache.spark.sql.DataFrame = {
    // same guards as the build side: a serve restating different bounds
    // than the partials were built with silently mis-edges the grid, so at
    // least the degenerate restatements fail loudly here
    require(bins >= 1 && hiCents > loCents, s"need bins >= 1 and hi > lo, got bins=$bins [$loCents,$hiCents)")
    require(hiCents - loCents <= Long.MaxValue / bins, s"bins*width overflows long: [$loCents,$hiCents) x $bins")
    val width = hiCents - loCents
    val merged = stored.groupBy(col("bin")).agg(sum(col("n")).as("n"))
    val grid = stored.sparkSession.range(bins).select(col("id").as("bin"))
    grid
      .join(merged, Seq("bin"), "left")
      .select(
        col("bin"),
        expr(s"${loCents}L + (bin * ${width}L) div ${bins}L").as("lo_edge_cents"),
        coalesce(col("n"), lit(0L)).as("n"))
  }
}
