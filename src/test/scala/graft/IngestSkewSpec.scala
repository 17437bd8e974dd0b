package graft

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin
import graft.sources.Ingest

class IngestSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S8: paginated ingest lands every page, stops on empty page") {
    val tmp = Files.createTempDirectory("graft-ingest").toString
    val all = (1 to 25).map(i => s"""{"id": $i, "name": "row$i"}""")
    def fetchPage(offset: Int): Seq[String] = all.slice(offset, offset + 10)
    val df = Ingest.pagedJsonIngest(spark, fetchPage, s"$tmp/landing")
    assert(df.count() == 25)
    assert(df.agg(sum("id")).head().getLong(0) == 325)
  }

  test("report ingest repairs schema drift (ingestion.py:84-123 semantics)") {
    val tmp = Files.createTempDirectory("graft-report").toString
    // gzip CSV: dotted prefix header, one new column, one registry column
    // missing, '-' null sentinel, float metric (FIXTURES.md B3)
    val csv = "Dimension.AD_UNIT_ID,Total Impressions,surprise_col\nau1,100.5,x\nau2,-,y\n"
    val gz = s"$tmp/report.csv.gz"
    val out = new GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write(csv.getBytes("UTF-8")); out.close()

    val registry = Seq("ad_unit_id", "total_impressions", "clicks")
    val (df, updated) = Ingest.reportIngest(spark, gz, registry, s"$tmp/landed")
    assert(df.columns.toSeq == Seq("ad_unit_id", "total_impressions", "clicks", "surprise_col"))
    val rows = df.orderBy("ad_unit_id").collect()
    assert(rows(0).getString(0) == "au1" && rows(0).getLong(1) == 100L) // float->trunc long
    assert(rows(1).getLong(1) == 0L) // '-' -> null -> 0 (F2 coalesce)
    assert(rows(0).isNullAt(2)) // registry col missing from report -> null
    assert(updated == registry :+ "surprise_col") // S16 writeback payload
  }

  test("drift notifier fires with the exact column diff; clean ingest stays silent") {
    val tmp = Files.createTempDirectory("graft-drift").toString
    val csv = "Dimension.AD_UNIT_ID,Total Impressions,surprise_col\nau1,100.5,x\n"
    val gz = s"$tmp/report.csv.gz"
    val out = new GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write(csv.getBytes("UTF-8")); out.close()

    // drifted report: one new column, one registry column missing
    val registry = Seq("ad_unit_id", "total_impressions", "clicks")
    val collector = new graft.core.Drift.Collecting
    Ingest.reportIngest(spark, gz, registry, s"$tmp/landed", notifier = collector)
    assert(collector.events.size == 1)
    val e = collector.events.head
    assert(e.source == gz)
    assert(e.newColumns == Seq("surprise_col"))
    assert(e.missingColumns == Seq("clicks"))
    assert(e.status == "CompletedWithDrift") // ingestion.py:99-122 'Completedwitherrors' analogue

    // aligned report: no event AT ALL (alerting must not cry wolf) — the
    // registry must exactly match the report's normalized columns, or the
    // silence property isn't being tested
    val clean = new graft.core.Drift.Collecting
    Ingest.reportIngest(spark, gz,
      Seq("ad_unit_id", "total_impressions", "surprise_col"), s"$tmp/landed2", notifier = clean)
    assert(clean.events.isEmpty, s"clean ingest must stay silent, got ${clean.events}")

    // a throwing notifier must never fail the ingest (alert channel down !=
    // data loss; the reference swallows notification errors the same way)
    val bomb = new graft.core.Drift.Notifier {
      override def notify(event: graft.core.Drift.DriftEvent): Unit = sys.error("SNS down")
    }
    val (df, _) = Ingest.reportIngest(spark, gz, registry, s"$tmp/landed3", notifier = bomb)
    assert(df.count() == 1)
  }

  test("warehouse load surfaces staged-vs-warehouse schema drift") {
    val tmp = Files.createTempDirectory("graft-wdrift").toString
    val run = graft.pipeline.PipelineRun(tmp, "svc", java.time.LocalDate.of(2024, 1, 2), lit("2024-01-02 00:00:01").cast("timestamp"))
    val stagedPath = run.path("t", "transformation", "csv")

    // first load: no existing warehouse, no drift possible, no event
    graft.sources.IO.writePipeCsv(Seq((1L, "a")).toDF("id", "v"), stagedPath)
    val c0 = new graft.core.Drift.Collecting
    graft.pipeline.Pipeline.loadPartitioned(spark, run, "t", s"$tmp/wh", Seq("id"), nBuckets = 4, notifier = c0)
    assert(c0.events.isEmpty)

    // second load widens the batch by one column: event carries the diff
    graft.sources.IO.writePipeCsv(Seq((1L, "a", true)).toDF("id", "v", "flag"), stagedPath)
    val c1 = new graft.core.Drift.Collecting
    graft.pipeline.Pipeline.loadPartitioned(spark, run, "t", s"$tmp/wh", Seq("id"), nBuckets = 4, notifier = c1)
    assert(c1.events.size == 1)
    assert(c1.events.head.newColumns == Seq("flag"))
    assert(c1.events.head.missingColumns.isEmpty)
  }

  test("drift view follows the LIVE warehouse, not superseded history") {
    // a column written at v1 but dropped when its only partition was
    // rewritten at v2 must leave the 'existing' set: unioning ALL surviving
    // manifests would count it forever — a staged batch without it would
    // false-alarm 'missing', and its re-introduction would go unreported
    val tmp = Files.createTempDirectory("graft-livedrift").toString
    val wh = s"$tmp/wh"
    graft.sources.VersionedTable.commitDelta(spark, wh,
      Seq(("a", 1, "x")).toDF("bucket", "v", "flag"), "bucket")
    graft.sources.VersionedTable.commitDelta(spark, wh,
      Seq(("a", 2)).toDF("bucket", "v"), "bucket") // rewrites the ONLY partition, flag gone

    // staged without flag: clean — flag is history, not live schema
    val clean = new graft.core.Drift.Collecting
    graft.pipeline.Pipeline.emitWarehouseDrift(spark, wh, Seq(("a", 3)).toDF("bucket", "v"), clean)
    assert(clean.events.isEmpty, s"dropped column must not false-alarm as missing: ${clean.events}")

    // staged WITH flag again: its re-introduction is a NEW column event
    val reintro = new graft.core.Drift.Collecting
    graft.pipeline.Pipeline.emitWarehouseDrift(spark, wh, Seq(("a", 3, "y")).toDF("bucket", "v", "flag"), reintro)
    assert(reintro.events.size == 1 && reintro.events.head.newColumns == Seq("flag"))

    // a column in an UNTOUCHED partition stays existing (the reason the
    // view is a union over contributing manifests, not just the newest)
    graft.sources.VersionedTable.commitDelta(spark, wh,
      Seq(("b", 1, "y")).toDF("bucket", "v", "flag"), "bucket")
    graft.sources.VersionedTable.commitDelta(spark, wh,
      Seq(("a", 4)).toDF("bucket", "v"), "bucket") // b untouched, carries flag
    val carried = new graft.core.Drift.Collecting
    graft.pipeline.Pipeline.emitWarehouseDrift(spark, wh, Seq(("a", 5, "z")).toDF("bucket", "v", "flag"), carried)
    assert(carried.events.isEmpty, s"column live in an untouched partition must stay existing: ${carried.events}")
  }

  test("salted join result-identical to plain join under skew") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "rare" + i else "hot", i)).toDF("k", "v")
    val small = Seq(("hot", 1.0), ("rare20", 2.0), ("rare30", 3.0)).toDF("k", "w")
    val plain = big.join(small, "k")
    val salted = SkewJoin.saltedInnerJoin(big, small, "k", nSalts = 8)
    assert(salted.count() == plain.count())
    val a = plain.orderBy("k", "v").collect().map(_.toSeq).toSeq
    val b = salted.select(plain.columns.map(col): _*).orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("two-phase count matches plain groupBy count") {
    val df = (1 to 500).map(i => if (i % 50 == 0) "tail" else "head").toDF("k")
    val plain = df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val twoPhase = SkewJoin.twoPhaseCount(df, "k", 4).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == twoPhase)
  }
}
