package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.sources.VersionedTable

/** Output checks against the generator's model. Each failed check is
  * recorded on the run and counts in its error rate.
  */
object Checks {

  /** SCD-2 warehouse invariants: exactly one active row per key, active rows
    * equal the model's final state, and history rows and delta counters
    * equal the model's totals.
    */
  def warehouse(ctx: Ctx, wh: String, gen: Gen): Unit = {
    val spark = ctx.spark
    val all = VersionedTable.read(spark, wh)
    val active = all.filter(col("actv_flg") === "Y")
    val perKey = active.groupBy("line_item_id").count()
    val multi = perKey.filter(col("count") > 1).count()
    ctx.check("one_active_row_per_key", multi == 0, s"$multi keys with more than one active row")

    val actual = active.select(concat_ws("|", Gen.CheckedCols.map(c => col(c).cast("string")): _*)).collect().map(_.getString(0))
    val expected = gen.live.valuesIterator.map(_.checked).toArray
    val missing = expected.toSet -- actual
    val extra = actual.toSet -- expected
    ctx.check("active_rows_equal_model", missing.isEmpty && extra.isEmpty && actual.length == expected.length,
      s"${actual.length} active vs ${expected.length} model; missing e.g. ${missing.take(2).mkString(",")}; extra e.g. ${extra.take(2).mkString(",")}")

    val agg = all.agg(count(lit(1)), coalesce(sum("delta_impressions_delivered"), lit(0L))).head()
    ctx.check("history_rows_equal_model", agg.getLong(0) == gen.historyRows, s"${agg.getLong(0)} rows vs ${gen.historyRows} model")
    ctx.check("delta_counters_equal_model", agg.getLong(1) == gen.sumDImpressions,
      s"sum delta_impressions ${agg.getLong(1)} vs ${gen.sumDImpressions} model")
  }

  /** Side-output row counts over every landed day equal the model's. */
  def sideOutputs(ctx: Ctx, root: String, gen: Gen): Unit = {
    val expected = Seq(
      "line_item_targeting_locations" -> gen.sideLocations,
      "line_item_targetted_ad_unit" -> gen.sideAdUnits,
      "line_item_custom_field" -> gen.sideCustomFields)
    expected.foreach { case (name, n) =>
      val dir = java.nio.file.Paths.get(graft.core.StagePath(root, "ad-manager", name, "transformation", "csv").dir)
      // data rows = non-empty lines minus one header per part file (no
      // generated value contains a newline)
      val w = java.nio.file.Files.walk(dir)
      val parts = try w.filter(_.getFileName.toString.endsWith(".csv")).toArray.map(_.asInstanceOf[java.nio.file.Path]) finally w.close()
      val got = parts.map { p =>
        val lines = java.nio.file.Files.readAllLines(p)
        math.max(0, lines.toArray.count(_.toString.nonEmpty) - 1).toLong
      }.sum
      ctx.check(s"side_rows_$name", got == n, s"$got rows vs $n model")
    }
  }

  /** Bucket of each key, as the warehouse assigns it. */
  def buckets(spark: SparkSession, ids: Seq[Long], nBuckets: Int): Map[Long, Long] = {
    import spark.implicits._
    ids.toDF("line_item_id").select(col("line_item_id"), Scd2.keyBucket(Seq("line_item_id"), nBuckets))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Partitions each commit rewrote (a partition-map diff) per bucket whose
    * keys changed, averaged over the commits after the first.
    */
  def rewriteRatio(spark: SparkSession, wh: String, versions: Seq[Long], keysByCommit: Map[Int, Seq[Long]], nBuckets: Int): Double = {
    val sorted = versions.sorted
    val bucketOf = buckets(spark, keysByCommit.values.flatten.toSeq.distinct, nBuckets)
    val ratios = sorted.zipWithIndex.drop(1).flatMap { case (v, i) =>
      keysByCommit.get(i).map { ks =>
        val before = VersionedTable.partitionMap(spark, wh, sorted(i - 1)).getOrElse(Map.empty)
        val after = VersionedTable.partitionMap(spark, wh, v).getOrElse(Map.empty)
        val rewritten = after.count { case (p, pv) => !before.get(p).contains(pv) }
        rewritten.toDouble / ks.map(bucketOf).distinct.size
      }
    }
    if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size
  }

  /** Stream sinks: one DQ result set per landed batch, all passing, and no
    * batch committed twice to the warehouse.
    */
  def stream(ctx: Ctx, wh: String, resultsPath: String, batches: Int, nExpectations: Int, streamId: String): Unit = {
    val spark = ctx.spark
    val res = spark.read.parquet(resultsPath)
    val perBatch = res.groupBy("batch_part").agg(count(lit(1)).as("n"), min(col("success").cast("int")).as("ok")).collect()
    val shapes = perBatch.count(r => r.getLong(1) == nExpectations && r.getInt(2) == 1)
    ctx.check("dq_one_result_set_per_batch", perBatch.length == batches && shapes == batches,
      s"${perBatch.length} result sets (${shapes} complete and passing) for $batches batches")

    // every stream commit records its batch id, and later commits carry
    // the newest id forward: a batch committed twice repeats an id
    val versions = VersionedTable.committedVersionsPublic(spark, wh).sorted
    val markers = versions.drop(1).map(v => VersionedTable.commitField(spark, wh, v, s"stream_batch:$streamId"))
    val ids = markers.flatten
    ctx.check("no_batch_committed_twice",
      versions.size == 1 + batches && ids.size == batches && ids.distinct.size == batches,
      s"${versions.size} versions, ${ids.distinct.size} distinct batch ids over ${ids.size} stream commits for $batches batches")
  }
}
