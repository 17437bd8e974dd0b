package graft.perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Config, DqRule, ServiceConfig}
import graft.dq.DqSuite
import graft.operators.DeltaState
import graft.pipeline.{Pipeline, PipelineRun}
import graft.sources.{IO, VersionedTable}

/** `etl_daily`: op = one generated day through the paper's pipeline —
  * cleanse, partition, transform against the delta state, state-store
  * write, DQ suite, partition-scoped SCD-2 load. A run times whole pairs of
  * days, so a short run always times days 1 and 2; day 2 is the drift day.
  */
final class EtlDaily(ctx: Ctx) extends Workload {
  import ctx.spark
  private val params = GenParams(initialKeys = 1500, changedShare = 0.2, newShare = 0.05, maxList = 3, driftDay = 2)
  private val alias = "line_item"
  private val keys = Seq("order_id", "line_item_id")
  private val counters = Seq(
    "impressions_delivered" -> "prev_impressions",
    "clicks_delivered" -> "prev_clicks",
    "viewable_impressions_delivered" -> "prev_viewable")
  private val svc: ServiceConfig = Config.loadResource()(spark).service(alias).get
  private val rules = Seq(
    DqRule("etl", "line_item_id", "not_null", active = true),
    DqRule("etl", "line_item_id", "unique", active = true),
    DqRule("etl", "order_id", "not_null", active = true),
    DqRule("etl", "status", "matches:^[A-Z_]+$", active = true),
    DqRule("etl", "delta_clicks_delivered", "between:0:100000000", active = true))
  private val expectations = DqSuite.fromConfig(rules)
  private val firstDay = LocalDate.of(2024, 6, 1)
  private val nBuckets = 16

  private[perfbench] var root: Path = _
  private var gen: Gen = _
  private[perfbench] def model: Gen = gen
  private var state: DataFrame = _
  private val dq = mutable.Map.empty[Int, Seq[graft.dq.DqResult]]
  private val dayRows = mutable.Map.empty[Int, Long]
  private val dayBuckets = mutable.Map.empty[Int, Seq[Long]]
  private var inputBytes = 0L
  private var timedInputBytes = 0L
  private var timedWritten = 0L
  private var sizeBefore = 0L

  ctx.params ++= Seq(
    "docs_day0" -> params.initialKeys.toString,
    "changed_key_share" -> params.changedShare.toString,
    "new_key_share" -> params.newShare.toString,
    "list_len" -> s"uniform 0..${params.maxList} (empty share ${1.0 / (params.maxList + 1)})",
    "drift_day" -> params.driftDay.toString,
    "buckets" -> nBuckets.toString)

  private[perfbench] def warehouse: String = wh
  private def wh = root.resolve("warehouse/tbl_line_item").toString
  private def run(day: Int) = PipelineRun(root.toString, "ad-manager", firstDay.plusDays(day.toLong),
    lit(s"${firstDay.plusDays(day.toLong)} 00:00:01").cast("timestamp"))

  /** Generate and land the next day's raw documents. */
  private def land(): Int = {
    val items = gen.nextDay()
    val d = gen.day
    val bytes = gen.renderDocs(items, d)
    inputBytes += Gen.write(java.nio.file.Paths.get(run(d).path(alias, "raw", "json"), s"$alias.json"), bytes)
    dayRows(d) = items.size.toLong
    dayBuckets(d) = items.map(_.id).distinct
    d
  }

  private def processDay(d: Int): Unit = {
    val r = run(d)
    ctx.tracer.span("pipeline.cleanse")(Pipeline.cleanse(spark, r, alias))
    ctx.tracer.span("pipeline.partition")(Pipeline.partitionStage(spark, r, svc))
    ctx.tracer.span("pipeline.transform")(
      Pipeline.transform(spark, r, svc, snapshot = Some(state), deltaCounters = counters, deltaKeys = keys))
    val staged = IO.readPipeCsv(spark, r.path(alias, "transformation", "csv"))
    // the state store keeps every key's last counters: this batch's
    // snapshot plus the carried-forward rows of keys it did not deliver
    ctx.tracer.span("operators.next_snapshot") {
      val next = DeltaState.nextSnapshot(staged, keys, counters)
      val carried = state.join(next.select(keys.map(col): _*), keys, "left_anti")
      val dir = root.resolve(s"state/day=$d").toString
      next.unionByName(carried).write.parquet(dir)
      state = spark.read.parquet(dir)
    }
    dq(d) = ctx.tracer.span("dq.suite")(DqSuite.run(staged, expectations, d.toString, alias))
    ctx.tracer.span("pipeline.load")(Pipeline.loadPartitioned(spark, r, alias, wh, Seq("line_item_id"), nBuckets))
  }

  def setup(dir: Path): Unit = {
    root = dir
    gen = new Gen(ctx.seed, params)
    inputBytes = 0L
    dq.clear(); dayRows.clear(); dayBuckets.clear()
    state = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType((keys ++ counters.map(_._2)).map(
        org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.LongType))))
    processDay(land()) // day 0 bootstraps the warehouse and warms the JIT
  }

  override def atPassEnd: Boolean = gen.day % 2 == 0

  override def prepare(i: Int): Unit = {
    val before = inputBytes
    land()
    timedInputBytes += inputBytes - before
    sizeBefore = Load.dirBytes(root) - inputBytes
  }

  def execute(i: Int): (String, Long) = {
    val d = gen.day
    processDay(d)
    ("day", dayRows(d))
  }

  override def verify(i: Int): Seq[String] = {
    timedWritten += Load.dirBytes(root) - inputBytes - sizeBefore
    val rs = dq(gen.day)
    val bad = rs.filterNot(_.success).map(r => s"${r.expectationType}(${r.columnName})")
    (if (rs.size != expectations.size) Seq(s"dq results ${rs.size} != ${expectations.size}") else Nil) ++
      (if (bad.nonEmpty) Seq(s"dq failed ${bad.mkString(",")}") else Nil)
  }

  def finish(): Unit = {
    Checks.warehouse(ctx, wh, gen)
    Checks.sideOutputs(ctx, root.toString, gen)
    val versions = VersionedTable.committedVersionsPublic(spark, wh)
    ctx.gauges("sources.versions") = versions.size.toDouble
    ctx.gauges("sources.rewrite_ratio") = Checks.rewriteRatio(spark, wh, versions, dayBuckets.toMap, nBuckets)
    ctx.sizes("input_bytes_timed") = timedInputBytes.toDouble
    ctx.sizes("input_bytes_total") = inputBytes.toDouble
    ctx.sizes("written_bytes_timed") = timedWritten.toDouble
    ctx.sizes("warehouse_bytes") = Load.dirBytes(java.nio.file.Paths.get(wh)).toDouble
    ctx.params("days_landed") = (gen.day + 1).toString
  }
}
