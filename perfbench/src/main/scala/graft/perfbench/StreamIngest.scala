package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.DqRule
import graft.dq.DqSuite
import graft.operators.Scd2
import graft.streaming.Streaming

/** `stream_ingest`: op = one landed micro-batch of change rows, run to
  * completion through the DQ results sink and the SCD-2 warehouse sink on
  * their durable checkpoints. Latency runs from landing until both sinks
  * have finished (freshness). A run times whole passes of four batches, so
  * a short run always times batches 1 to 4.
  */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx.spark
  private val params = GenParams(initialKeys = 3000, changedShare = 0.05, newShare = 0.02, maxList = 0, driftDay = Int.MaxValue)
  private[perfbench] val streamId = "perfbench"
  private val nBuckets = 16
  private val expectations = DqSuite.fromConfig(Seq(
    DqRule("stream", "line_item_id", "not_null", active = true),
    DqRule("stream", "line_item_id", "unique", active = true),
    DqRule("stream", "status", "matches:^[A-Z_]+$", active = true),
    DqRule("stream", "delta_clicks_delivered", "between:0:100000000", active = true)))

  private var root: Path = _
  private var gen: Gen = _
  private var batches = 0
  private var inputBytes = 0L
  private var timedInputBytes = 0L
  private var timedWritten = 0L
  private var sizeBefore = 0L
  private val batchKeys = scala.collection.mutable.Map.empty[Int, Seq[Long]]

  ctx.params ++= Seq(
    "bootstrap_keys" -> params.initialKeys.toString,
    "changed_key_share" -> params.changedShare.toString,
    "new_key_share" -> params.newShare.toString,
    "buckets" -> nBuckets.toString)

  private[perfbench] def warehouse: String = wh
  private[perfbench] def resultsPath: String = results
  private[perfbench] def batchCount: Int = batches
  private[perfbench] def nExpectations: Int = expectations.size
  private def wh = root.resolve("warehouse").toString
  private def watch = root.resolve("landing")
  private def results = root.resolve("dq_results").toString
  private def ts(day: Int) = java.time.LocalDate.of(2024, 6, 1).plusDays(day.toLong).toString + " 00:00:01"

  /** Land the next batch of change rows into the watched directory. */
  private def land(): Long = {
    val items = gen.nextDay()
    val d = gen.day
    batchKeys(d) = items.map(_.id)
    val n = Gen.write(watch.resolve(f"batch-$d%05d.json"), gen.renderFlat(items, ts(d)))
    inputBytes += n
    ctx.params("rows_per_batch") = items.size.toString
    items.size.toLong
  }

  private def progress(q: StreamingQuery, wallS: Double): Map[String, Double] = {
    val ms = q.recentProgress.flatMap(_.durationMs.asScala.toSeq).groupMapReduce(_._1)(_._2.toLong)(_ + _)
    def s(k: String) = ms.getOrElse(k, 0L) / 1000.0
    Map(
      "latest_offset_s" -> s("latestOffset"), "get_batch_s" -> s("getBatch"), "add_batch_s" -> s("addBatch"),
      "wal_commit_s" -> s("walCommit"), "commit_offsets_s" -> s("commitOffsets"),
      "query_planning_s" -> s("queryPlanning"), "start_overhead_s" -> (wallS - s("triggerExecution")))
  }

  private def trigger(name: String)(start: => StreamingQuery): Unit = {
    var q: StreamingQuery = null
    val t0 = System.nanoTime()
    ctx.tracer.span(name) { q = start; q.awaitTermination() }
    q.exception.foreach(e => throw e)
    ctx.tracer.annotate(name, progress(q, (System.nanoTime() - t0) / 1e9))
  }

  /** Both sinks, one after the other, each to completion. */
  private def runSinks(): Unit = {
    val source = spark.readStream.schema(Gen.FlatSchema).json(watch.toString)
    trigger("streaming.dq_trigger")(Streaming.validatedStream(spark, source, expectations, results,
      fileIdentifier = streamId, checkpointLocation = Some(root.resolve("ckpt/dq").toString)))
    trigger("streaming.load_trigger")(Streaming.scd2WarehouseSink(spark, source, wh, Seq("line_item_id"), nBuckets,
      b => lit(ts(b.toInt + 1)).cast("timestamp"), root.resolve("ckpt/load").toString, streamId))
    batches += 1
  }

  def setup(dir: Path): Unit = {
    root = dir
    gen = new Gen(ctx.seed + 1, params)
    batches = 0; inputBytes = 0L; batchKeys.clear()
    // bootstrap: day 0 committed as the warehouse's first version
    val boot = gen.nextDay()
    val bootFile = root.resolve("bootstrap/day0.json")
    inputBytes += Gen.write(bootFile, gen.renderFlat(boot, ts(0)))
    Scd2.upsertPartitioned(spark, wh, spark.read.schema(Gen.FlatSchema).json(bootFile.toString), Seq("line_item_id"),
      nBuckets, lit(ts(0)).cast("timestamp"))
    land()
    runSinks() // warm-up batch; also creates both checkpoints
  }

  override def atPassEnd: Boolean = (batches - 1) % 4 == 0 // batch 0 is setup's warm-up

  override def prepare(i: Int): Unit = sizeBefore = Load.dirBytes(root) - inputBytes

  def execute(i: Int): (String, Long) = {
    val before = inputBytes
    val rows = land()
    timedInputBytes += inputBytes - before
    runSinks()
    ("batch", rows)
  }

  override def verify(i: Int): Seq[String] = {
    timedWritten += Load.dirBytes(root) - inputBytes - sizeBefore
    Nil
  }

  def finish(): Unit = {
    Checks.warehouse(ctx, wh, gen)
    Checks.stream(ctx, wh, results, batches, expectations.size, streamId)
    val versions = graft.sources.VersionedTable.committedVersionsPublic(spark, wh)
    ctx.gauges("sources.versions") = versions.size.toDouble
    ctx.gauges("sources.rewrite_ratio") = Checks.rewriteRatio(spark, wh, versions, batchKeys.toMap, nBuckets)
    ctx.sizes("input_bytes_timed") = timedInputBytes.toDouble
    ctx.sizes("input_bytes_total") = inputBytes.toDouble
    ctx.sizes("written_bytes_timed") = timedWritten.toDouble
    ctx.sizes("warehouse_bytes") = Load.dirBytes(java.nio.file.Paths.get(wh)).toDouble
  }
}
