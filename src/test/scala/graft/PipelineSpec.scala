package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ServiceConfig, TransformationRule}
import graft.pipeline.{Pipeline, PipelineRun}
import graft.sources.IO

/** Golden pipeline test (SURVEY.md §5): miniature raw-JSON fixture through
  * cleanse -> transform (+side outputs) -> SCD-2 load, asserting the staged
  * artifacts and warehouse invariants.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rawDoc =
    """[
      |  {"orderId": 1001, "id": 5001, "name": "li-A",
      |   "costPerUnit": {"currencyCode": "USD", "microAmount": 1500000},
      |   "impressionsDelivered": 4000, "clicksDelivered": 120,
      |   "startDateTime": {"date": {"year": 2023, "month": 5, "day": 1},
      |     "hour": 0, "minute": 0, "second": 0, "timeZoneId": "Asia/Kuala_Lumpur"},
      |   "targeting": {"geoTargeting": {"targetedLocations": [
      |       {"id": 2458, "type": "COUNTRY", "canonicalParentId": null, "displayName": "Malaysia"}]},
      |     "inventoryTargeting": {"targetedAdUnits": [
      |       {"adUnitId": "77001", "includeDescendants": true}]}},
      |   "customFieldValues": [{"customFieldId": 901, "value": {"value": "tier-1"}}],
      |   "notes": "SENSITIVE"},
      |  {"orderId": 1002, "id": 5002, "name": "li-B",
      |   "costPerUnit": {"currencyCode": "MYR", "microAmount": 900000},
      |   "impressionsDelivered": 100, "clicksDelivered": 3,
      |   "startDateTime": {"date": {"year": 2024, "month": 1, "day": 2},
      |     "hour": 1, "minute": 2, "second": 3, "timeZoneId": "UTC"},
      |   "targeting": {"geoTargeting": {"targetedLocations": []},
      |     "inventoryTargeting": {"targetedAdUnits": []}},
      |   "customFieldValues": [],
      |   "notes": "ALSO SENSITIVE"}
      |]""".stripMargin

  private val svc = ServiceConfig(
    alias = "line_item",
    tableName = "tbl_line_item",
    transformationRules = Seq(
      TransformationRule("orderId", "order_id"),
      TransformationRule("id", "line_item_id"),
      TransformationRule("name", "line_item_name"),
      TransformationRule("costPerUnit", "costperunit_microamount", Some("costPerUnit_microAmount"), "dict"),
      TransformationRule("startDateTime", "start_datetime_date_year", Some("startDateTime_date_year"), "dict"),
      TransformationRule("impressionsDelivered", "impressions_delivered"),
      TransformationRule("clicksDelivered", "clicks_delivered")
    ),
    maskingCols = Seq("notes")
  )

  test("golden pipeline: raw -> cleanse -> transform (+sides) -> SCD-2 load") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val run = PipelineRun(root, "ad-manager", java.time.LocalDate.of(2024, 6, 1),
      lit("2024-06-01 00:00:01").cast("timestamp"))

    // land the raw fixture where the ingest stage would
    val rawDir = new java.io.File(run.path("line_item", "raw", "json"))
    rawDir.mkdirs()
    Files.writeString(java.nio.file.Paths.get(rawDir + "/line_item.json"), rawDoc)

    // cleansing: flattened pipe-CSV exists with leaf columns
    val flat = Pipeline.cleanse(spark, run, "line_item")
    assert(flat.columns.contains("costPerUnit_microAmount"))
    assert(flat.columns.contains("targeting_geoTargeting_targetedLocations_0_displayName"))
    val cleansed = IO.readPipeCsv(spark, run.path("line_item", "cleansing", "csv"))
    assert(cleansed.count() == 2)

    // partitioning: masking col dropped
    val masked = Pipeline.partitionStage(spark, run, svc)
    assert(!masked.columns.contains("notes"))

    // transformation with stateful delta: li-A has a snapshot, li-B doesn't
    val snapshot = Seq((1001L, 5001L, 3000L, 100L)).toDF("order_id", "line_item_id", "prev_impressions", "prev_clicks")
    val (main, sides) = Pipeline.transform(
      spark, run, svc,
      snapshot = Some(snapshot),
      deltaCounters = Seq("impressions_delivered" -> "prev_impressions", "clicks_delivered" -> "prev_clicks"),
      deltaKeys = Seq("order_id", "line_item_id")
    )
    val byId = main.collect().map(r => r.getAs[Long]("line_item_id") -> r).toMap
    assert(byId(5001L).getAs[Long]("delta_impressions_delivered") == 1000L) // 4000-3000
    assert(byId(5002L).getAs[Long]("delta_impressions_delivered") == 100L)  // no snapshot -> raw
    assert(byId(5001L).getAs[String]("generic10") == null)
    assert(sides.keySet == Set("line_item_targeting_locations", "line_item_targetted_ad_unit", "line_item_custom_field"))
    assert(sides("line_item_targetted_ad_unit").count() == 1) // empty list drops li-B

    // loading: SCD-2 into warehouse, then a second run closes the old version
    val wh = s"$root/warehouse/tbl_line_item"
    val v1 = Pipeline.loadPartitioned(spark, run, "line_item", wh, Seq("line_item_id"), nBuckets = 4)
    assert(v1.filter($"actv_flg" === "Y").count() == 2)

    val run2 = run.copy(now = lit("2024-06-02 00:00:01").cast("timestamp"))
    val v2 = Pipeline.loadPartitioned(spark, run2, "line_item", wh, Seq("line_item_id"), nBuckets = 4)
    assert(v2.count() == 4) // 2 closed + 2 new active
    assert(v2.filter($"actv_flg" === "Y").count() == 2)
    assert(v2.filter($"actv_flg" === "N" && $"record_to".isNotNull).count() == 2)
    // exactly one active version per key (O-SCD2 invariant)
    val perKey = v2.filter($"actv_flg" === "Y").groupBy("line_item_id").count().collect()
    assert(perKey.forall(_.getLong(1) == 1))

    // O-FULL: full-refresh load overwrites, no history
    val whFull = s"$root/warehouse/tbl_line_item_full"
    Pipeline.loadFullRefresh(spark, run, "line_item", whFull)
    Pipeline.loadFullRefresh(spark, run2, "line_item", whFull)
    assert(spark.read.parquet(whFull).count() == 2) // overwritten, not appended
  }

  test("bundled registry config drives the full line_item transformation") {
    implicit val s = spark
    val cfg = graft.core.Config.loadResource()
    val svc = cfg.service("line_item").get
    assert(svc.transformationRules.size == 29)
    assert(svc.expandColumnsTargetingLocation.contains("location_name"))

    val rawDir = java.nio.file.Files.createTempDirectory("graft-cfg").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$rawDir/li.json"), rawDoc)
    val raw = IO.readJsonDocs(spark, s"$rawDir/li.json")
    val (main, sides) = graft.operators.Transform.forService(raw, svc, applyYearFilter = true)
    assert(main.columns.toSeq == svc.transformationColumns)
    assert(main.count() == 2) // both docs >= 2019
    val a = main.filter($"line_item_id" === 5001).head()
    assert(a.getAs[Long]("costperunit_microamount") == 1500000L)
    assert(a.getAs[String]("start_datetime_timezoneid") == "Asia/Kuala_Lumpur")
    val geo = sides("line_item_targeting_locations")
    assert(geo.columns.toSeq == svc.expandColumnsTargetingLocation)
    assert(geo.head().getAs[String]("location_name") == "Malaysia")
    assert(geo.head().getAs[Long]("order_id") == 1001L) // final-named id resolved
  }

  test("P12: blank-input short-circuit (empty raw document array)") {
    val root = Files.createTempDirectory("graft-pipe-empty").toString
    val run = PipelineRun(root, "ad-manager", java.time.LocalDate.of(2024, 6, 1),
      lit("2024-06-01 00:00:01").cast("timestamp"))
    val rawDir = new java.io.File(run.path("empty_svc", "raw", "json"))
    rawDir.mkdirs()
    Files.writeString(java.nio.file.Paths.get(rawDir + "/empty_svc.json"), "[]")
    val out = Pipeline.cleanse(spark, run, "empty_svc")
    assert(out.isEmpty)
    // short-circuit: no cleansing output written
    assert(!new java.io.File(run.path("empty_svc", "cleansing", "csv")).exists())
  }
}
