package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The benchmark's own JVM-side tests: seeded inputs are reproducible, and
  * every output checker rejects a deliberately corrupted warehouse. Prints
  * one `PASS`/`FAIL` line per case; exit code 0 only if all pass.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** Runs `checks` on a fresh context and returns the names of failed checks. */
  private def failed(base: Ctx)(checks: Ctx => Unit): Set[String] = {
    val c = new Ctx(base.spark, base.tracer, base.seed, base.cores, base.dataDir)
    checks(c)
    c.checks.filterNot(_._2).map(_._1).toSet
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  /** Commits a rewrite of one partition of the latest version. */
  private def corrupt(ctx: Ctx, wh: String)(f: DataFrame => DataFrame): Unit = {
    val spark = ctx.spark
    val latest = VersionedTable.latestVersion(spark, wh).get
    val part = VersionedTable.partitionMap(spark, wh, latest).get.keys.toSeq.sorted.head
    val df = VersionedTable.readPartition(spark, wh, part).get.localCheckpoint()
    VersionedTable.commitDelta(spark, wh, f(df), "key_bucket")
    ()
  }

  def run(work: Path, dataDir: String): Int = {
    // generator: same seed gives byte-identical inputs, another seed differs
    val p = GenParams(initialKeys = 200, changedShare = 0.2, newShare = 0.05, maxList = 3, driftDay = 2)
    def render(seed: Long): Seq[Array[Byte]] = {
      val g = new Gen(seed, p)
      (0 until 4).flatMap { d => val items = g.nextDay(); Seq(g.renderDocs(items, d), g.renderFlat(items, "2024-06-01 00:00:01")) }
    }
    val (a, b, c) = (render(7), render(7), render(8))
    expect("same seed gives byte-identical inputs", a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    expect("different seeds give different inputs", a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
    expect("drift day adds a column", {
      val g = new Gen(7, p); val s = (0 until 3).map(d => new String(g.renderDocs(g.nextDay(), d)))
      !s(1).contains("deliveryRateType") && s(2).contains("deliveryRateType")
    })
    expect("some lists are empty and some are not", {
      val g = new Gen(7, p); val items = g.nextDay()
      items.exists(_.locations == 0) && items.exists(_.locations > 0)
    })

    val spark = graft.core.Sessions.local(2, "graft-perfbench-selftest")
    val ctx = new Ctx(spark, new Tracer(spark, enabled = false, 2), seed = 11, cores = 2, dataDir = dataDir)

    // etl_daily: warehouse and side-output checkers
    val etl = new EtlDaily(ctx)
    etl.setup(work.resolve("etl"))
    etl.prepare(0)
    etl.execute(0) // a second day, so the warehouse holds history rows
    val etlChecks = (c: Ctx) => { Checks.warehouse(c, etl.warehouse, etl.model); Checks.sideOutputs(c, etl.root.toString, etl.model) }
    val clean = failed(ctx)(etlChecks)
    expect("etl checks pass on a clean warehouse", clean.isEmpty, clean.mkString(","))
    val pristine = work.resolve("etl-pristine")
    copyTree(etl.root, pristine)
    def onCopy(name: String, expectFail: String)(mutate: => Unit): Unit = {
      mutate
      val f = failed(ctx)(etlChecks)
      expect(s"$name is rejected by $expectFail", f.contains(expectFail), s"failed checks: ${f.mkString(",")}")
      new scala.reflect.io.Directory(etl.root.toFile).deleteRecursively()
      copyTree(pristine, etl.root)
    }
    onCopy("a duplicated active row", "one_active_row_per_key")(
      corrupt(ctx, etl.warehouse)(df => df.unionByName(df.filter(col("actv_flg") === "Y").limit(1))))
    onCopy("a changed attribute", "active_rows_equal_model")(
      corrupt(ctx, etl.warehouse)(df => df.withColumn("status", when(col("actv_flg") === "Y", lit("BOGUS")).otherwise(col("status")))))
    onCopy("a lost history row", "history_rows_equal_model")(
      corrupt(ctx, etl.warehouse)(df => df.except(df.filter(col("actv_flg") =!= "Y").limit(1))))
    onCopy("a changed delta counter", "delta_counters_equal_model")(
      corrupt(ctx, etl.warehouse)(df => df.withColumn("delta_impressions_delivered", col("delta_impressions_delivered") + 1)))
    onCopy("a duplicated side-output file", "side_rows_line_item_custom_field") {
      val dir = graft.core.StagePath(etl.root.toString, "ad-manager", "line_item_custom_field", "transformation", "csv").dir
      val w = Files.walk(java.nio.file.Paths.get(dir))
      val csv = try w.filter(_.toString.endsWith(".csv")).findFirst().get() finally w.close()
      Files.copy(csv, csv.resolveSibling("dup-" + csv.getFileName))
    }

    // stream_ingest: DQ result sets and exactly-once commits
    val st = new StreamIngest(ctx)
    st.setup(work.resolve("stream"))
    st.execute(0)
    val streamChecks = (c: Ctx) => Checks.stream(c, st.warehouse, st.resultsPath, st.batchCount, st.nExpectations, st.streamId)
    val sClean = failed(ctx)(streamChecks)
    expect("stream checks pass on a clean run", sClean.isEmpty, sClean.mkString(","))
    VersionedTable.commitDelta(spark, st.warehouse,
      VersionedTable.read(spark, st.warehouse).limit(0), "key_bucket", extraMeta = Map(s"stream_batch:${st.streamId}" -> "0"))
    val dup = failed(ctx)(streamChecks)
    expect("a batch committed twice is rejected", dup.contains("no_batch_committed_twice"), dup.mkString(","))
    new scala.reflect.io.Directory(java.nio.file.Paths.get(st.resultsPath, s"stream_part=${st.streamId}", "batch_part=0").toFile).deleteRecursively()
    val lost = failed(ctx)(streamChecks)
    expect("a missing DQ result set is rejected", lost.contains("dq_one_result_set_per_batch"), lost.mkString(","))

    // analyst_mix: serving reads against the model, then against a corrupted warehouse
    val am = new AnalystMix(ctx, None)
    am.setup(work.resolve("analyst"))
    val reads = Seq("point_lookup", "time_travel", "change_feed", "latest_scan")
    val readFails = reads.flatMap(am.readCheck)
    expect("serving reads pass on a clean warehouse", readFails.isEmpty, readFails.mkString("; "))
    corrupt(ctx, am.warehouse)(df => df.withColumn("impressions_delivered", col("impressions_delivered") + 1))
    expect("a changed counter is rejected by the latest-scan check", am.readCheck("latest_scan").nonEmpty)

    // analyst_mix: a query fingerprint that differs from the cut value
    val expected = AnalystMix.loadFingerprints(dataDir)
    expect("expected fingerprints cover every query", AnalystMix.Queries.forall(expected.contains),
      AnalystMix.Queries.filterNot(expected.contains).mkString(","))
    val q = AnalystMix.Queries.head
    val fp = AnalystMix.fingerprint(graft.SparkEntry.queries(q)(spark, dataDir))
    expect(s"$q matches its cut fingerprint", expected.get(q).contains(fp), s"$fp vs ${expected.get(q)}")
    val off = AnalystMix.fingerprint(graft.SparkEntry.queries(q)(spark, dataDir).limit(1))
    expect(s"a truncated $q result is rejected", !expected.get(q).contains(off))

    spark.stop()
    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
