package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.sources.VersionedTable

/** `analyst_mix`: op = one read. A fixed set of `graft.Bench` headline
  * queries in a seeded order per pass, interleaved with four serving reads
  * against a warehouse that setup builds from the `etl_daily` generator.
  * Each op runs once untimed the first time it comes up in a run, so every
  * timed op is a warm execution.
  */
final class AnalystMix(ctx: Ctx, cutFingerprints: Option[Path]) extends Workload {
  import ctx.spark
  override def readOnly: Boolean = true
  override def atPassEnd: Boolean = pass.isEmpty

  private val queries: Seq[String] = AnalystMix.Queries
  private val reads = Seq("point_lookup", "time_travel", "change_feed", "latest_scan")
  private val params = GenParams(initialKeys = 2000, changedShare = 0.2, newShare = 0.05, maxList = 0, driftDay = Int.MaxValue)
  private val nBuckets = 16
  private val versionsBuilt = 2
  private val expected: Map[String, String] = AnalystMix.loadFingerprints(ctx.dataDir)

  private var wh: String = _
  /** Model per version: active rows by key, and the (changed, new) key counts of the commit. */
  private val model = mutable.ArrayBuffer.empty[(Map[Long, Item], Int, Int)]
  private val rnd = new scala.util.Random(ctx.seed)
  private var pass = Vector.empty[String]
  private val fingerprints = mutable.LinkedHashMap.empty[String, String]
  private var current: (String, () => Seq[String]) = _
  private val pruneRatios = mutable.ArrayBuffer.empty[Double]
  /** Committed versions, oldest first; index i holds model(i). */
  private var versions = IndexedSeq.empty[Long]

  ctx.params ++= Seq(
    "queries" -> queries.size.toString,
    "serving_keys" -> params.initialKeys.toString,
    "serving_versions" -> versionsBuilt.toString,
    "serving_buckets" -> nBuckets.toString,
    "changed_key_share" -> params.changedShare.toString,
    "new_key_share" -> params.newShare.toString)

  private def ts(day: Int) = java.time.LocalDate.of(2024, 6, 1).plusDays(day.toLong).toString + " 00:00:01"

  def setup(dir: Path): Unit = {
    wh = dir.resolve("warehouse").toString
    model.clear()
    val gen = new Gen(ctx.seed + 2, params)
    (0 until versionsBuilt).foreach { d =>
      val items = gen.nextDay()
      val f = dir.resolve(s"landing/day$d.json")
      Gen.write(f, gen.renderFlat(items, ts(d)))
      Scd2.upsertPartitioned(spark, wh, spark.read.schema(Gen.FlatSchema).json(f.toString), Seq("line_item_id"),
        nBuckets, lit(ts(d)).cast("timestamp"))
      val nNew = items.count(_.rev == 0)
      model += ((gen.live.toMap, items.size - nNew, nNew))
    }
    versions = VersionedTable.committedVersionsPublic(spark, wh).sorted.toIndexedSeq
    require(versions.size == versionsBuilt, s"expected $versionsBuilt versions, found ${versions.size}")
  }

  private def nextName(): String = {
    if (pass.isEmpty) {
      // a seeded shuffle of the queries, with the serving reads spread through it
      val qs = rnd.shuffle(queries).toVector
      val rs = rnd.shuffle(reads).toVector
      val step = math.max(1, qs.size / rs.size)
      pass = qs.grouped(step).toVector.zipAll(rs.map(Vector(_)), Vector.empty, Vector.empty)
        .flatMap { case (q, r) => q ++ r }
    }
    val n = pass.head
    pass = pass.tail
    n
  }

  private val warmed = mutable.Set.empty[String]

  override def prepare(i: Int): Unit = {
    current = (nextName(), () => Nil)
    if (warmed.add(current._1)) execute(i)
  }

  def execute(i: Int): (String, Long) = {
    val name = current._1
    val verify =
      if (reads.contains(name)) runRead(name)._2
      else {
        val df = ctx.tracer.span("query.call")(graft.SparkEntry.queries(name)(spark, ctx.dataDir))
        val fp = ctx.tracer.span("query.exec")(AnalystMix.fingerprint(df))
        () => {
          fingerprints(name) = fp
          expected.get(name) match {
            case Some(e) if e == fp => Nil
            case Some(e)            => Seq(s"$name fingerprint $fp != expected $e")
            case None if cutFingerprints.isDefined => Nil
            case None               => Seq(s"$name has no expected fingerprint")
          }
        }
      }
    current = (name, verify)
    (name, 0L)
  }

  override def verify(i: Int): Seq[String] = current._2()

  private[perfbench] def warehouse: String = wh
  private[perfbench] def readCheck(r: String): Seq[String] = runRead(r)._2()

  private def latest = model.size - 1
  private def rows(df: DataFrame): Array[Row] = df.collect()
  private def activeAgg(df: DataFrame): DataFrame =
    df.filter(col("actv_flg") === "Y").agg(count(lit(1)), coalesce(sum("impressions_delivered"), lit(0L)))

  /** Runs serving read `r`; returns its result rows and a check against the model. */
  private def runRead(r: String): (Array[Row], () => Seq[String]) = {
    val partitions = VersionedTable.partitionMap(spark, wh, versions(latest)).map(_.size).getOrElse(1).toDouble
    r match {
      case "point_lookup" =>
        val key = model(latest)._1.keysIterator.drop(rnd.nextInt(model(latest)._1.size)).next()
        val got = ctx.tracer.span("sources.point_lookup") {
          val bucket = spark.range(1).select(lit(key).as("line_item_id"))
            .select(Scd2.keyBucket(Seq("line_item_id"), nBuckets)).head().getLong(0)
          VersionedTable.readPartition(spark, wh, bucket.toString).map { p =>
            rows(p.filter(col("line_item_id") === key && col("actv_flg") === "Y")
              .select(concat_ws("|", Gen.CheckedCols.map(c => col(c).cast("string")): _*)))
          }.getOrElse(Array.empty[Row])
        }
        pruneRatios += 1.0 / partitions
        (got, () => {
          val want = model(latest)._1(key).checked
          if (got.length == 1 && got(0).getString(0) == want) Nil else Seq(s"point lookup $key: ${got.map(_.getString(0)).mkString(";")} != $want")
        })
      case "time_travel" =>
        val v = rnd.nextInt(latest)
        val got = ctx.tracer.span("sources.time_travel")(rows(activeAgg(VersionedTable.read(spark, wh, Some(versions(v))))))
        pruneRatios += 1.0
        (got, () => aggCheck(s"time travel v$v", got, model(v)._1))
      case "change_feed" =>
        val v = rnd.nextInt(latest)
        val changed = VersionedTable.partitionMap(spark, wh, versions(v + 1)).get.count(_._2 == versions(v + 1))
        val got = ctx.tracer.span("sources.change_feed") {
          rows(VersionedTable.changeFeed(spark, wh, versions(v), versions(v + 1), Seq("line_item_id", "insrt_ts"))
            .groupBy("_change_type").count())
        }
        pruneRatios += changed / partitions
        (got, () => {
          val (_, nChanged, nNew) = model(v + 1)
          val counts = got.map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
          val want = Map("insert" -> (nChanged + nNew).toLong, "update_preimage" -> nChanged.toLong,
            "update_postimage" -> nChanged.toLong, "delete" -> 0L)
          if (want.forall { case (k, n) => counts(k) == n }) Nil else Seq(s"change feed v$v: $counts != $want")
        })
      case "latest_scan" =>
        val got = ctx.tracer.span("sources.latest_scan")(rows(activeAgg(VersionedTable.read(spark, wh))))
        pruneRatios += 1.0
        (got, () => aggCheck("latest scan", got, model(latest)._1))
    }
  }

  private def aggCheck(what: String, got: Array[Row], live: Map[Long, Item]): Seq[String] = {
    val want = (live.size.toLong, live.valuesIterator.map(_.impressions).sum)
    if (got.length == 1 && (got(0).getLong(0), got(0).getLong(1)) == want) Nil
    else Seq(s"$what: ${got.map(_.toString).mkString} != $want")
  }

  def finish(): Unit = {
    ctx.gauges("sources.versions") = VersionedTable.committedVersionsPublic(spark, wh).size.toDouble
    ctx.gauges("sources.prune_ratio") = if (pruneRatios.isEmpty) 0.0 else pruneRatios.sum / pruneRatios.size
    cutFingerprints.foreach { out =>
      val body = fingerprints.toSeq.sortBy(_._1).map { case (k, v) => s"  ${graft.core.Json.str(k)}: ${graft.core.Json.str(v)}" }
      Files.writeString(out, body.mkString("{\n", ",\n", "\n}\n"))
    }
  }
}

object AnalystMix {
  /** The queries of the mix: 9 of `graft.Bench`'s 27 headline queries,
    * short ones that together cover the relational plans, text analysis,
    * dedup (q37 keeps its signature table in `core.Caching`), similarity
    * and sampling. q80 is left out because it commits a warehouse; the
    * other 17 to keep one pass within a run's time budget.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q07_window_latest", "q12_state_delta", "q13_explode_tokens", "q30_dedup_exact",
    "q32_text_quality", "q37_minhash_lsh", "q40_ann_bruteforce", "q87_mixture_sample")

  /** `Bench.materialize`'s action, keeping its bit_xor(xxhash64) value. */
  def fingerprint(df: DataFrame): String = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType    => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType  => hashable(a.elementType)
      case _                                        => true
    }
    val safe = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    if (safe.isEmpty) s"count:${df.count()}"
    else {
      val r = df.select(xxhash64(safe.toIndexedSeq: _*).as("__h")).agg(expr("bit_xor(__h)"), count(lit(1))).head()
      s"${if (r.isNullAt(0)) "null" else r.getLong(0).toString}:${r.getLong(1)}"
    }
  }

  /** Expected fingerprints, cut once and kept next to the data they describe. */
  def loadFingerprints(dataDir: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(dataDir).resolveSibling("fingerprints.json")
    if (!Files.exists(f)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      scala.jdk.CollectionConverters.IteratorHasAsScala(node.properties().iterator()).asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }
}
