package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dq.{NotNull, Unique}
import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ST1/ST2: foreachBatch DQ validation appends results per micro-batch") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$tmp/src"
    val resDir = s"$tmp/results"
    Seq(("o1", 10.0), ("o2", 20.0), ("o2", 30.0)).toDF("order_id", "amount")
      .write.parquet(srcDir)

    val stream = spark.readStream
      .schema("order_id STRING, amount DOUBLE")
      .parquet(srcDir)
    val q = Streaming.validatedStream(spark, stream, Seq(NotNull("order_id"), Unique("order_id")), resDir, "t1")
    assert(q.awaitTermination(60000), "stream did not finish in 60s")

    val results = spark.read.parquet(resDir)
    assert(results.count() == 2)
    val uq = results.filter($"expectation_type" === "expect_column_values_to_be_unique").head()
    assert(!uq.getAs[Boolean]("success"))
    assert(uq.getAs[Long]("unexpected_count") == 2L)

    // idempotent sink: re-executing the same micro-batch (fresh query, no
    // checkpoint -> batch 0 runs again, foreachBatch's documented retry
    // case) must REPLACE its batch partition, not append duplicates
    val q2 = Streaming.validatedStream(spark, stream, Seq(NotNull("order_id"), Unique("order_id")), resDir, "t1")
    assert(q2.awaitTermination(60000), "stream did not finish in 60s")
    assert(spark.read.parquet(resDir).count() == 2)
  }

  test("streaming SCD-2 warehouse sink is exactly-once across micro-batch retries") {
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-scd2sink").toString
    val srcDir = s"$tmp/src"; val wh = s"$tmp/warehouse"
    Seq((1L, "a"), (2L, "b")).toDF("k", "payload").write.parquet(srcDir)
    // id-robust injectable clock (digit concatenation would break at id>=10)
    val clock = (id: Long) =>
      org.apache.spark.sql.functions.expr(s"timestamp '2024-01-01 00:00:00' + INTERVAL '$id' SECOND")
    def runOnce(ckpt: String): Unit = {
      val stream = spark.readStream.schema("k BIGINT, payload STRING").parquet(srcDir)
      val q = Streaming.scd2WarehouseSink(spark, stream, wh, Seq("k"), nBuckets = 4, now = clock, checkpointLocation = ckpt)
      assert(q.awaitTermination(60000), "stream did not finish in 60s")
      ()
    }
    runOnce(s"$tmp/ckpt1")
    assert(VersionedTable.read(spark, wh).count() == 2)
    val v1 = VersionedTable.latestVersion(spark, wh).get
    // re-delivery simulation: a SECOND checkpoint re-delivers the same files
    // as batch 0 — the in-manifest stream_batch marker must suppress the
    // re-apply (the crash-between-commit-and-offset retry case)
    runOnce(s"$tmp/ckpt2")
    assert(VersionedTable.latestVersion(spark, wh).get == v1, "re-delivered batch must not commit again")
    val t = VersionedTable.read(spark, wh)
    assert(t.count() == 2 && t.filter($"actv_flg" === "Y").count() == 2)

    // interleaved NON-stream commit must not hide the marker — and table
    // MAINTENANCE must not erase it: compact supersedes the stream commit's
    // own json and vacuum deletes it, so suppression relies on the marker
    // being carried forward into the compacted manifest
    VersionedTable.compact(spark, wh, "key_bucket")
    val vacuumed = VersionedTable.vacuum(spark, wh, retainVersions = 1, orphanGraceMs = 0)
    assert(vacuumed.nonEmpty, "fixture should actually expire the stream commit's json")
    runOnce(s"$tmp/ckpt3")
    val t2 = VersionedTable.read(spark, wh)
    assert(t2.count() == 2 && t2.filter($"actv_flg" === "Y").count() == 2,
      "marker must survive compact+vacuum (re-delivery after maintenance)")

    // new data under the ORIGINAL checkpoint -> batch 1 applies exactly once
    Seq((1L, "a2")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    runOnce(s"$tmp/ckpt1")
    val t3 = VersionedTable.read(spark, wh)
    assert(t3.filter($"k" === 1L).count() == 2) // closed v1 + new active
    assert(t3.filter($"k" === 1L && $"actv_flg" === "Y").collect().head.getAs[String]("payload") == "a2")
  }

  test("two streams sharing a warehouse keep independent exactly-once markers") {
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-scd2multi").toString
    val wh = s"$tmp/warehouse"
    val clock = (id: Long) =>
      org.apache.spark.sql.functions.expr(s"timestamp '2024-01-01 00:00:00' + INTERVAL '$id' SECOND")
    def runStream(srcDir: String, ckpt: String, streamId: String): Unit = {
      val stream = spark.readStream.schema("k BIGINT, payload STRING").parquet(srcDir)
      val q = Streaming.scd2WarehouseSink(spark, stream, wh, Seq("k"), nBuckets = 4, now = clock,
        checkpointLocation = ckpt, streamId = streamId)
      assert(q.awaitTermination(60000), "stream did not finish in 60s")
      ()
    }
    // stream A applies its batch 0
    Seq((1L, "a")).toDF("k", "payload").write.parquet(s"$tmp/srcA")
    runStream(s"$tmp/srcA", s"$tmp/ckptA", "A")
    // stream B's batch 0 must STILL apply: without per-stream namespacing,
    // A's marker (batch 0 >= 0) would silently suppress it — data loss
    Seq((2L, "b")).toDF("k", "payload").write.parquet(s"$tmp/srcB")
    runStream(s"$tmp/srcB", s"$tmp/ckptB", "B")
    val t = VersionedTable.read(spark, wh)
    assert(t.count() == 2, "each stream's first batch must land")
    // re-delivery within each stream is still suppressed
    runStream(s"$tmp/srcA", s"$tmp/ckptA2", "A")
    runStream(s"$tmp/srcB", s"$tmp/ckptB2", "B")
    assert(VersionedTable.read(spark, wh).count() == 2)
    val latest = VersionedTable.latestVersion(spark, wh).get
    assert(VersionedTable.Snapshot.at(spark, wh, latest).fields("stream_batch").keySet ==
      Set("stream_batch:A", "stream_batch:B"))
  }

  test("ST5: a counter absent from one event keeps its snapshot (update_item SET semantics)") {
    implicit val s = spark
    val tmp = Files.createTempDirectory("graft-stream-merge").toString
    val srcDir = s"$tmp/src"
    // k1 reports imp, then ONLY clk, then imp again: the imp snapshot must
    // survive the clk-only event or the third reading double-counts 100
    Seq(
      ("k1", "imp", 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("k1", "clk", 5L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("k1", "imp", 120L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    ).toDF("key", "cname", "cval", "ts").write.parquet(srcDir)

    val events = spark.readStream
      .schema("key STRING, cname STRING, cval BIGINT, ts TIMESTAMP")
      .parquet(srcDir)
      .select($"key", map($"cname", $"cval").as("counters"), $"ts")
      .as[Streaming.CounterEvent]

    val query = Streaming.deltaStream(events)
      .writeStream.format("memory").queryName("deltas_merge")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(query.awaitTermination(60000), "stream did not finish in 60s")

    val got = spark.table("deltas_merge").collect()
      .map(r => (r.getTimestamp(2).toString, r.getAs[Map[String, Long]](1)))
      .toMap
    assert(got("2024-01-01 00:00:00.0") == Map("imp" -> 100L)) // first seen -> raw
    assert(got("2024-01-02 00:00:00.0") == Map("clk" -> 5L))   // first clk -> raw
    assert(got("2024-01-03 00:00:00.0") == Map("imp" -> 20L))  // 120-100, NOT 120
  }

  test("ST5: streaming cumulative->delta with flatMapGroupsWithState") {
    implicit val s = spark
    val tmp = Files.createTempDirectory("graft-stream2").toString
    val srcDir = s"$tmp/src"
    Seq(
      ("k1", 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("k1", 130L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("k2", 50L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("key", "imp", "ts").write.parquet(srcDir)

    val events = spark.readStream
      .schema("key STRING, imp BIGINT, ts TIMESTAMP")
      .parquet(srcDir)
      .select($"key", map(lit("imp"), $"imp").as("counters"), $"ts")
      .as[Streaming.CounterEvent]

    val out = Streaming.deltaStream(events)
    val query = out.writeStream.format("memory").queryName("deltas")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(query.awaitTermination(60000), "stream did not finish in 60s")

    val got = spark.table("deltas").collect()
      .map(r => (r.getString(0), r.getAs[Map[String, Long]](1)("imp"), r.getTimestamp(2).toString))
      .toSet
    assert(got.contains(("k1", 100L, "2024-01-01 00:00:00.0"))) // first seen -> raw
    assert(got.contains(("k1", 30L, "2024-01-02 00:00:00.0"))) // delta
    assert(got.contains(("k2", 50L, "2024-01-01 00:00:00.0")))
  }

  test("checkpointed incremental ingest resumes without reprocessing (exactly-once)") {
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Seq(("a", 1L)).toDF("k", "v").write.mode("append").parquet(srcDir)

    def runOnce(): Unit = {
      val q = spark.readStream.schema("k STRING, v BIGINT").parquet(srcDir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "stream did not finish in 60s")
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 1)

    // second batch of source data; restart from the checkpoint
    Seq(("b", 2L), ("c", 3L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 3) // 1 old + 2 new; the old file was NOT re-ingested
    assert(out.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 6L)
  }

  test("streaming dedup within watermark (exactly-once event semantics)") {
    val tmp = Files.createTempDirectory("graft-sdedup").toString
    Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:00:05")), // duplicate delivery
      ("e2", java.sql.Timestamp.valueOf("2024-01-01 10:01:00"))
    ).toDF("event_id", "ts").write.parquet(s"$tmp/src")

    val deduped = spark.readStream
      .schema("event_id STRING, ts TIMESTAMP")
      .parquet(s"$tmp/src")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "stream did not finish in 60s")
    val ids = spark.table("sdedup").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("e1", "e2")) // the duplicate delivery is dropped
  }

  test("windowed event aggregation (engine-native streaming surface)") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0)
    ).toDF("ts", "event_type", "value")
    val out = Streaming.windowedEventAgg(df).collect()
    assert(out.length == 2)
    val h10 = out.find(_.getTimestamp(0).toString.startsWith("2024-01-01 10")).get
    assert(h10.getLong(2) == 2L && h10.getDouble(3) == 3.0)
  }

  // ----------------------------------------------------------------
  // Continuous (multi-batch) sessionization / cutover deltas
  // ----------------------------------------------------------------

  /** Write each slice as ONE parquet file into `landing` with strictly
    * increasing mtimes, so the file-stream source (oldest-first) replays
    * them as separate micro-batches under maxFilesPerTrigger=1 in
    * event-time order — the multi-batch replay harness.
    */
  private def writeSlices(
      landing: String,
      slices: Seq[Seq[(Long, Long, java.sql.Timestamp, Option[Double])]],
      startIndex: Int = 0 // late-arriving files for restart tests keep mtime order
  ): Unit = {
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    JF.createDirectories(Paths.get(landing))
    slices.zipWithIndex.foreach { case (rows, i0) =>
      val i = startIndex + i0
      val tmp = JF.createTempDirectory("graft-slice").toString
      rows.toDF("user_id", "event_id", "ts", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = JF.list(Paths.get(tmp))
      val part =
        try stream.filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
        finally stream.close()
      val dest = Paths.get(landing, f"slice-$i%02d.parquet")
      JF.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      JF.setLastModifiedTime(dest, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
      ()
    }
  }

  private def runSliced[T](
      landing: String,
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[T],
      sink: String,
      checkpoint: Option[String] = None
  ): Int = {
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val w = build(stream).writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
    assert(q.awaitTermination(120000), "sliced stream did not finish in 120s")
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("continuous sessionization: open sessions carry across >=3 micro-batches and flush by event-time timeout") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val hbUser = Streaming.HeartbeatUser
    // u1 session1 spans slice A only but CLOSES via the gap to its 13:30
    // event (slice C, data path); u2 session1 SPANS slices A->B (state
    // carry); u3 has one all-null-value event and never returns, so its
    // session can only flush via the event-time TIMEOUT once the watermark
    // (advanced by slice C) passes 10:20 + gap; u1 s2 flushes in the
    // heartbeat batch, u2 s2 only in the final no-data batch.
    val sliceA = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), Some(1.0)),
      (1L, 2L, ts("2024-01-01 10:10:00"), None),
      (1L, 3L, ts("2024-01-01 10:30:00"), Some(2.5)),
      (2L, 4L, ts("2024-01-01 10:05:00"), Some(1.25)),
      (3L, 5L, ts("2024-01-01 10:20:00"), None)
    )
    val sliceB = Seq(
      (2L, 6L, ts("2024-01-01 11:00:00"), Some(0.5)),
      (2L, 7L, ts("2024-01-01 11:30:00"), None)
    )
    val sliceC = Seq(
      (1L, 8L, ts("2024-01-01 13:30:00"), Some(3.0)),
      (2L, 9L, ts("2024-01-01 15:00:00"), Some(4.0))
    )
    val heartbeat = Seq((hbUser, 0L, ts("2024-01-03 00:00:00"), Option.empty[Double]))
    val landing = Files.createTempDirectory("graft-msess").toString
    writeSlices(landing, Seq(sliceA, sliceB, sliceC, heartbeat))

    val nBatches = runSliced(landing, df => Streaming.gapSessions(spark, df), "msess")
    assert(nBatches >= 4, s"expected >=4 data micro-batches (3 slices + heartbeat), got $nBatches")

    val got = spark.table("msess").collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3).toString, r.getTimestamp(4).toString,
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toSet
    val want = Set(
      (1L, 1L, 3L, "2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0", Some(350L)),
      (1L, 2L, 1L, "2024-01-01 13:30:00.0", "2024-01-01 13:30:00.0", Some(300L)),
      (2L, 1L, 3L, "2024-01-01 10:05:00.0", "2024-01-01 11:30:00.0", Some(175L)),
      (2L, 2L, 1L, "2024-01-01 15:00:00.0", "2024-01-01 15:00:00.0", Some(400L)),
      (3L, 1L, 1L, "2024-01-01 10:20:00.0", "2024-01-01 10:20:00.0", None)
    )
    assert(got == want, s"multi-batch sessions mismatch:\n got=$got\nwant=$want")
  }

  test("sessionization survives kill-and-restart: open sessions restore from the checkpoint, result parity holds") {
    killAndRestartScenario()
  }

  test("kill-and-restart on the RocksDB state store: state restores off-heap, results identical") {
    // The 100M+-key deployment shape: the default HDFS-backed provider
    // keeps every key on the executor heap (an OOM cliff at corpus-scale
    // session counts); RocksDB spills state to local disk. Same scenario,
    // same expected rows — only the provider differs, proving the engine's
    // stateful operators don't depend on provider-specific semantics.
    withStateStoreProvider("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      killAndRestartScenario()
    }
  }

  private def withStateStoreProvider[T](provider: String)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def killAndRestartScenario(): Unit = {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val hbUser = Streaming.HeartbeatUser
    // same event fixture as the multi-batch test, but the query is KILLED
    // after slices A-C and a NEW query instance on the SAME checkpoint
    // finishes the replay — the remaining gap between multi-batch and
    // fault-tolerant. At the kill point u1/u2's session 2 and u3's
    // session 1 live only in the state store: if restore failed, the
    // restart would mis-number or drop them.
    val sliceA = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), Some(1.0)),
      (1L, 2L, ts("2024-01-01 10:10:00"), None),
      (1L, 3L, ts("2024-01-01 10:30:00"), Some(2.5)),
      (2L, 4L, ts("2024-01-01 10:05:00"), Some(1.25)),
      (3L, 5L, ts("2024-01-01 10:20:00"), None)
    )
    val sliceB = Seq(
      (2L, 6L, ts("2024-01-01 11:00:00"), Some(0.5)),
      (2L, 7L, ts("2024-01-01 11:30:00"), None)
    )
    val sliceC = Seq(
      (1L, 8L, ts("2024-01-01 13:30:00"), Some(3.0)),
      (2L, 9L, ts("2024-01-01 15:00:00"), Some(4.0))
    )
    val heartbeat = Seq((hbUser, 0L, ts("2024-01-03 00:00:00"), Option.empty[Double]))
    val landing = Files.createTempDirectory("graft-rsess").toString
    val ckpt = Files.createTempDirectory("graft-rsess-ckpt").toString
    val out = Files.createTempDirectory("graft-rsess-out").toString + "/sessions"
    writeSlices(landing, Seq(sliceA, sliceB, sliceC))

    // the memory sink can't recover a checkpoint — the restart path needs
    // a fault-tolerant sink, so the output goes to a parquet FILE sink
    // (whose _spark_metadata also proves exactly-once output across the
    // restart: spark.read sees only committed files)
    def runPhase(): Unit = {
      val stream = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      val q = Streaming.gapSessions(spark, stream).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "restart-phase stream did not finish in 120s")
    }
    def readOut(): Set[(Long, Long, Long, String, String, Option[Long])] =
      spark.read.parquet(out).collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3).toString, r.getTimestamp(4).toString,
          if (r.isNullAt(5)) None else Some(r.getLong(5)))
      }.toSet

    // phase 1: the watermark after slice C (15:00 - 10min) fires every
    // timeout at or below 14:50 in the final cleanup batch, so sessions
    // closed by data gaps AND the ripe timeouts (u1 s2 at 14:30:01, u3 s1
    // at 11:21:01) all emit; only u2's s2 (timeout 16:00:01) stays OPEN in
    // checkpointed state when AvailableNow exhausts the 3 files
    runPhase()
    val phase1 = readOut()
    assert(phase1 == Set(
      (1L, 1L, 3L, "2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0", Some(350L)),
      (1L, 2L, 1L, "2024-01-01 13:30:00.0", "2024-01-01 13:30:00.0", Some(300L)),
      (2L, 1L, 3L, "2024-01-01 10:05:00.0", "2024-01-01 11:30:00.0", Some(175L)),
      (3L, 1L, 1L, "2024-01-01 10:20:00.0", "2024-01-01 10:20:00.0", None)
    ), s"pre-restart flushes wrong: $phase1")

    // the heartbeat lands AFTER the kill; a new query instance resumes
    // from the checkpoint and processes only it
    writeSlices(landing, Seq(heartbeat), startIndex = 3)
    runPhase()
    val phase2 = readOut() -- phase1
    // restored state, not re-derivation: u2's open session flushes with
    // its pre-kill session id and sum — wrong or lost state would number
    // it 1 or drop it
    assert(phase2 == Set(
      (2L, 2L, 1L, "2024-01-01 15:00:00.0", "2024-01-01 15:00:00.0", Some(400L))
    ), s"post-restart flushes wrong: $phase2")

    // parity with the q24-shaped oracle result: the union across the
    // restart equals the uninterrupted multi-batch run's output
    val uninterrupted = Files.createTempDirectory("graft-rsess-once").toString
    val onceSink = s"rsess_once_${System.nanoTime()}" // unique per scenario run (default + RocksDB)
    writeSlices(uninterrupted, Seq(sliceA, sliceB, sliceC, heartbeat))
    runSliced(uninterrupted, df => Streaming.gapSessions(spark, df), onceSink)
    val once = spark.table(onceSink).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3).toString, r.getTimestamp(4).toString,
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toSet
    assert(readOut() == once, "kill-and-restart output diverges from the uninterrupted run")
  }

  test("continuous sessionization multi-batch replay matches the single-batch result on real events") {
    // the SAME sessionizer over the sf0.001 events table, once as a single
    // data batch and once time-sliced into 3 files + heartbeat with
    // maxFilesPerTrigger=1 — results must be identical (state carry across
    // batches is invisible in the output)
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.IO.table(spark, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"value")
    // parquet TIMESTAMP (isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ
    // (LocalDateTime) under Spark's default NTZ inference — normalize both
    // external types to java.sql.Timestamp
    def anyTs(a: Any): java.sql.Timestamp = a match {
      case t: java.sql.Timestamp     => t
      case l: java.time.LocalDateTime => java.sql.Timestamp.valueOf(l)
      case other                     => sys.error(s"unexpected timestamp external type: ${other.getClass}")
    }
    val rows = ev.collect().map { r =>
      (r.getLong(0), r.getLong(1), anyTs(r.get(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toSeq
    val sortedRows = rows.sortBy(e => (e._3.getTime, e._3.getNanos, e._2))
    val n = sortedRows.size
    val maxTs = sortedRows.last._3
    val hb = Seq((Streaming.HeartbeatUser, 0L,
      java.sql.Timestamp.from(maxTs.toInstant.plus(java.time.Duration.ofDays(2))), Option.empty[Double]))
    // slice on event-time order (ties kept together by the sort) -> the
    // in-order-across-batches contract the harness documents
    val slices = Seq(sortedRows.slice(0, n / 3), sortedRows.slice(n / 3, 2 * n / 3), sortedRows.slice(2 * n / 3, n), hb)
    val landing = Files.createTempDirectory("graft-msess-sf").toString
    writeSlices(landing, slices)
    val nBatches = runSliced(landing, df => Streaming.gapSessions(spark, df), "msess_sf")
    assert(nBatches >= 4, s"expected >=4 data micro-batches, got $nBatches")

    val single = Files.createTempDirectory("graft-ssess-sf").toString
    writeSlices(single, Seq(sortedRows ++ hb))
    runSliced(single, df => Streaming.gapSessions(spark, df), "ssess_sf")

    val multi = spark.table("msess_sf").collect().map(_.toString).sorted.toSeq
    val once = spark.table("ssess_sf").collect().map(_.toString).sorted.toSeq
    assert(multi.nonEmpty && multi == once, s"multi-batch vs single-batch divergence (${multi.size} vs ${once.size} rows)")
  }

  test("continuous cutover deltas accumulate across micro-batches and flush at the snapshot instant") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val cutoffMicros = ts("2024-01-15 00:00:00").getTime * 1000L
    val sliceA = Seq(
      (1L, 1L, ts("2024-01-10 09:00:00"), Some(100.0)), // pre-cutoff snapshot
      (2L, 2L, ts("2024-01-16 09:00:00"), Some(10.0)),  // first seen post-cutoff
      (3L, 3L, ts("2024-01-11 09:00:00"), Option.empty[Double])
    )
    val sliceB = Seq(
      (1L, 4L, ts("2024-01-20 09:00:00"), Some(30.0)),
      (2L, 5L, ts("2024-01-21 09:00:00"), Option.empty[Double])
    )
    val maxTs = ts("2024-01-21 09:00:00")
    val heartbeat = Seq((Streaming.HeartbeatUser, 0L,
      java.sql.Timestamp.from(maxTs.toInstant.plus(java.time.Duration.ofDays(2))), Option.empty[Double]))
    val landing = Files.createTempDirectory("graft-mdelta").toString
    writeSlices(landing, Seq(sliceA, sliceB, heartbeat))

    val nBatches = runSliced(
      landing,
      df => Streaming.cutoverDeltas(spark, df, cutoffMicros, maxTs.getTime + 60000L),
      "mdelta")
    assert(nBatches >= 3, s"expected >=3 data micro-batches, got $nBatches")

    val got = spark.table("mdelta").collect().map { r =>
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toSet
    val want = Set(
      (1L, 2L, Some(3000L)), // snapshot exists -> delta = post-cutoff sum
      (2L, 2L, Some(1000L)), // first seen post-cutoff -> raw total through
      (3L, 1L, None)         // all-null values -> SQL null sum
    )
    assert(got == want, s"multi-batch deltas mismatch:\n got=$got\nwant=$want")
  }

  test("streamingDistinct: a key duplicated across micro-batches is emitted exactly once") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val sliceA = Seq((1L, 1L, ts("2024-01-10 09:00:00"), Some(1.0)), (2L, 2L, ts("2024-01-10 10:00:00"), Some(1.0)))
    val sliceB = Seq((2L, 3L, ts("2024-01-10 11:00:00"), Some(1.0)), (3L, 4L, ts("2024-01-10 12:00:00"), Some(1.0)))
    val sliceC = Seq((1L, 5L, ts("2024-01-10 13:00:00"), Some(1.0)), (4L, 6L, ts("2024-01-10 14:00:00"), Some(1.0)))
    val landing = Files.createTempDirectory("graft-sdedup").toString
    writeSlices(landing, Seq(sliceA, sliceB, sliceC))
    val nBatches = runSliced(landing, df => Streaming.streamingDistinct(df, Seq("user_id")), "sdedup")
    assert(nBatches >= 3, s"expected >=3 data micro-batches, got $nBatches")
    val got = spark.table("sdedup").collect().map(_.getLong(0)).toSeq
    assert(got.sorted == Seq(1L, 2L, 3L, 4L), s"cross-batch dedup broke: $got")
  }

  test("streamingDistinct withinWatermark: state evicts past the lateness bound (the bounded-state tradeoff)") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    // u1 seen at 09:00; slice B advances the watermark hours past
    // 09:00+10min; eviction runs at END of the batch that SEES that
    // watermark (one-batch lag: slice C's close removes u1), so u1's
    // re-arrival in slice D is NOT suppressed — exactness holds only
    // within the lateness bound, the price of bounded state on an
    // unbounded stream
    val sliceA = Seq((1L, 1L, ts("2024-01-10 09:00:00"), Some(1.0)))
    val sliceB = Seq((99L, 2L, ts("2024-01-10 15:00:00"), Some(1.0)))
    val sliceC = Seq((98L, 3L, ts("2024-01-10 15:00:10"), Some(1.0)))
    val sliceD = Seq((1L, 4L, ts("2024-01-10 15:00:30"), Some(1.0)))
    val landing = Files.createTempDirectory("graft-sdedup-wm").toString
    writeSlices(landing, Seq(sliceA, sliceB, sliceC, sliceD))
    runSliced(
      landing,
      df => Streaming.streamingDistinct(df, Seq("user_id"), withinWatermark = Some(("ts", "10 minutes"))),
      "sdedup_wm")
    val counts = spark.table("sdedup_wm").collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(counts(99L) == 1 && counts(98L) == 1)
    assert(counts(1L) == 2, s"expected u1 re-emitted after state eviction, got $counts")
  }

  test("intervalJoin: matches pair across micro-batch boundaries, window bound excludes, no-key-match drops") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    def writeEventSlices(landing: String, slices: Seq[Seq[(Long, Long, java.sql.Timestamp)]]): Unit = {
      JF.createDirectories(Paths.get(landing))
      slices.zipWithIndex.foreach { case (rows, i) =>
        val tmp = JF.createTempDirectory("graft-ij-slice").toString
        rows.toDF("user_id", "event_id", "ts").coalesce(1).write.mode("overwrite").parquet(tmp)
        val st = JF.list(Paths.get(tmp))
        val part =
          try st.filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
          finally st.close()
        JF.move(part, Paths.get(landing, f"slice-$i%02d.parquet"), StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
    // click c1(u1)@10:00 matches p1@10:10 (same batch side) AND p2@10:25
    // arriving in the purchases source's SECOND file — the buffered-state
    // cross-batch case; p3(u2)@11:00 is outside c2(u2)@10:00's 30-minute
    // window but inside c3(u2)@10:50's; p4(u3) has no click at all
    val clicksDir = Files.createTempDirectory("graft-ij-clicks").toString
    val purchDir = Files.createTempDirectory("graft-ij-purch").toString
    writeEventSlices(clicksDir, Seq(
      Seq((1L, 101L, ts("2024-01-01 10:00:00")), (2L, 102L, ts("2024-01-01 10:00:00"))),
      Seq((2L, 103L, ts("2024-01-01 10:50:00")))))
    writeEventSlices(purchDir, Seq(
      Seq((1L, 201L, ts("2024-01-01 10:10:00"))),
      Seq((1L, 202L, ts("2024-01-01 10:25:00")), (2L, 203L, ts("2024-01-01 11:00:00")), (3L, 204L, ts("2024-01-01 10:05:00")))))
    def src(dir: String) = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val clicks = src(clicksDir).select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    val purchases = src(purchDir).select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"))
    val joined = Streaming
      .intervalJoin(clicks, purchases, "user_id", "click_ts", "purchase_ts", "30 minutes", "10 minutes")
      .select($"click_id", $"purchase_id")
    val q = joined.writeStream.format("memory").queryName("ij_sink").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "interval-join stream did not finish in 120s")
    val got = spark.table("ij_sink").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((101L, 201L), (101L, 202L), (103L, 203L)), s"unexpected join output: $got")
  }

  test("enrichStream: broadcast dimension attributes land per micro-batch; unmatched keys keep nulls") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val landing = Files.createTempDirectory("graft-enrich").toString
    writeSlices(landing, Seq(
      Seq((1L, 1L, ts("2024-01-01 10:00:00"), Some(1.0)), (2L, 2L, ts("2024-01-01 10:05:00"), None)),
      Seq((9L, 3L, ts("2024-01-01 11:00:00"), Some(2.0))) // no dimension row for user 9
    ))
    val dim = Seq((1L, "BUILDING", 7), (2L, "MACHINERY", 3)).toDF("cust_id", "segment", "nation")
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .select($"user_id", $"event_id")
    val sink = s"enrich_${System.nanoTime()}"
    val q = Streaming.enrichStream(stream, dim, "user_id", "cust_id", Seq("segment", "nation"))
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val out = spark.table(sink).collect()
      .map(r => r.getLong(1) -> ((if (r.isNullAt(2)) null else r.getString(2), if (r.isNullAt(3)) null else r.getInt(3)))).toMap
    assert(out(1L) == (("BUILDING", 7)) && out(2L) == (("MACHINERY", 3)))
    assert(out(3L) == ((null, null)), "unmatched key must survive with null attributes")
    intercept[IllegalArgumentException] { Streaming.enrichStream(stream, dim, "user_id", "cust_id", Nil) }
  }

  test("intervalJoin: refuses overlapping non-key columns and identical ts names") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "lts")
    val r = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "lts")
    intercept[IllegalArgumentException] {
      Streaming.intervalJoin(l, r, "k", "lts", "lts", "30 minutes", "10 minutes")
    }
    val r2 = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "x")).toDF("k", "rts", "lts")
    intercept[IllegalArgumentException] {
      Streaming.intervalJoin(l, r2, "k", "lts", "rts", "30 minutes", "10 minutes")
    }
  }

  test("decayedCounter: state carries across micro-batches; last emission equals the batch fold") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val landing = java.nio.file.Files.createTempDirectory("graft-decay").toString + "/landing"
    // user 1 split across two batches in event-time order; user 2 in one
    writeSlices(landing, Seq(
      Seq((1L, 10L, ts("2024-01-01 00:00:00"), Some(1.00)),
          (1L, 11L, ts("2024-01-02 00:00:00"), Some(2.00)),
          (2L, 20L, ts("2024-01-01 12:00:00"), Some(3.33))),
      Seq((1L, 12L, ts("2024-01-03 00:00:00"), Some(0.50)))
    ))
    val name = s"decay_sink_${System.nanoTime()}"
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val q = Streaming.decayedCounter(stream, 5000L)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "decay stream did not finish")
    val rows = spark.table(name).as[(Long, Long, Long)].collect().toSet
    spark.catalog.dropTempView(name)
    // per-batch emissions: user 1 after batch 1 (n=2, 100->250), after
    // batch 2 (n=3, floor(250*.5)+50 = 175); user 2 once
    assert(rows == Set((1L, 2L, 250L), (1L, 3L, 175L), (2L, 1L, 333L)), s"got $rows")
    // converged value (max n per user) equals the batch fold
    val batch = graft.operators.TimeSeries.decayedValue(
      spark.read.parquet(landing), "user_id", "ts", "event_id", "value", 5000L)
      .as[(Long, Long, Long)].collect().toSet
    val last = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
    assert(last == batch, s"streaming $last != batch $batch")
  }

  test("lshDedupSink: per-batch pair union equals one-shot probe; restart with a lost checkpoint re-uses committed batch ids and changes nothing") {
    import graft.operators.Dedup
    val tmp = Files.createTempDirectory("graft-lshsink").toString
    val idx = s"$tmp/index"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "completely unrelated corpus text with different words")
    ).toDF("doc_id", "text")
    Dedup.lshIndexBuild(spark, idx, corpus, "doc_id", "text")

    // two staged micro-batch files: batch docs 10/15 near-dup the corpus
    // and each other; 16 matches nothing
    val b0 = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
    val b1 = Seq(
      (15L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (16L, "nothing shared with anything else at all today"))
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/in/g0")
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/in/g1")

    def runSink(ckpt: String) = {
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in/*")
      val q = Streaming.lshDedupSink(
        spark, src, idx, s"$tmp/pairs", "doc_id", "text",
        checkpointLocation = ckpt, streamId = "t")
      assert(q.awaitTermination(120000), "lsh dedup stream did not finish")
    }
    runSink(s"$tmp/ckpt1")

    def pairSet() = spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "jaccard_e4").as[(Long, Long, Long)].collect().toSet
    val streamed = pairSet()
    // one-shot equivalent: fresh index over the same corpus, both batches
    // probed as ONE batch — the batch-boundary-invariance contract
    val idx2 = s"$tmp/index2"
    Dedup.lshIndexBuild(spark, idx2, corpus, "doc_id", "text")
    val oneShot = Dedup.lshProbeAndAppend(
      spark, idx2, (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == oneShot, s"streamed $streamed != one-shot $oneShot")
    assert(streamed.map(p => (p._1, p._2)) == Set((1L, 10L), (1L, 15L), (10L, 15L)), s"got $streamed")

    // the stream ran as two committed batches (plus the corpus base)
    def committed() =
      new java.io.File(s"$idx/_batches").list().filterNot(_.startsWith(".")).toSet
    assert(committed() == Set("base", "t-b0", "t-b1"), s"got ${committed()}")

    // kill-and-restart with a LOST checkpoint: batch numbering restarts at
    // 0 under the same streamId, every re-delivered id hits its commit
    // marker, and neither the pairs nor the index state change
    runSink(s"$tmp/ckpt2")
    assert(pairSet() == streamed, "re-delivery changed the pair set")
    assert(committed() == Set("base", "t-b0", "t-b1"), "re-delivery appended to the index")
  }

  test("sketchRollupSink: merge-on-write across batches serves like a one-shot build; lost-checkpoint restart commits nothing") {
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-sketchsink").toString
    // 3 days x 2 types, users deliberately OVERLAPPING across batches so
    // the same (day, type) sketch is merged on every commit
    val rows = for (d <- 1 to 3; t <- Seq("a", "b"); u <- 1L to 40L)
      yield (f"2024-01-0$d%01d", t, d * 100L + u % 25)
    val ev = rows.toDF("day", "event_type", "user_id")
    (0 to 2).foreach(g =>
      ev.filter(pmod($"user_id", lit(3)) === g).coalesce(1).write.parquet(s"$tmp/in/g$g"))

    val rollup = s"$tmp/rollup"
    def runSink(ckpt: String) = {
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
      val q = Streaming.sketchRollupSink(spark, src, rollup, checkpointLocation = ckpt, streamId = "t")
      assert(q.awaitTermination(120000), "sketch rollup stream did not finish")
    }
    runSink(s"$tmp/ckpt1")

    // streamed-in rollup estimates == one-shot build estimates, per (day, type)
    def estimates(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"day", $"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val streamed = estimates(VersionedTable.read(spark, rollup))
    val oneShot = estimates(
      ev.groupBy($"day", $"event_type").agg(hll_sketch_agg($"user_id").as("sk")))
    assert(streamed == oneShot, s"streamed $streamed != one-shot $oneShot")
    // every (day, type) has exactly 25 distinct users — HLL is exact there
    assert(streamed.values.forall(_ == 25L), s"expected exact 25s, got $streamed")

    // 3 micro-batch commits, each touching all 3 days (the merge path)
    assert(VersionedTable.committedVersionsPublic(spark, rollup).size == 3)

    // lost checkpoint: re-delivered batch ids no-op against the marker
    runSink(s"$tmp/ckpt2")
    assert(VersionedTable.committedVersionsPublic(spark, rollup).size == 3,
      "re-delivery committed new versions")
    assert(estimates(VersionedTable.read(spark, rollup)) == oneShot,
      "re-delivery changed the rollup state")
  }

  test("cdcApplySink: streamed apply converges to the one-shot apply; lost-checkpoint restart commits nothing") {
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-cdcsink").toString
    val src = s"$tmp/src"
    def st(rows: Seq[(Long, String, Long)]) =
      rows.toDF("k", "v", "cents").withColumn("bucket", pmod($"k", lit(2)).cast("string"))
    // v1: keys 1..4; v2: update k=2, delete k=3, insert k=5 (both buckets touched)
    val v1 = VersionedTable.commitDelta(spark, src,
      st(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))), "bucket")
    val v2 = VersionedTable.commitDelta(spark, src,
      st(Seq((1L, "a", 10L), (2L, "B", 25L), (4L, "d", 40L), (5L, "e", 50L))), "bucket")
    val feed = VersionedTable.changeFeed(spark, src, v1, v2, Seq("k"))
    feed.filter(pmod($"k", lit(2)) === 0).coalesce(1).write.parquet(s"$tmp/in/g0")
    feed.filter(pmod($"k", lit(2)) === 1).coalesce(1).write.parquet(s"$tmp/in/g1")

    val replica = s"$tmp/replica"
    VersionedTable.commitDelta(spark, replica, VersionedTable.read(spark, src, Some(v1)), "bucket")

    def runSink(ckpt: String) = {
      val in = spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
      val q = Streaming.cdcApplySink(
        spark, in, replica, Seq("k"), "bucket", checkpointLocation = ckpt, streamId = "t")
      assert(q.awaitTermination(120000), "cdc apply stream did not finish")
    }
    runSink(s"$tmp/ckpt1")

    def state(p: String, v: Option[Long] = None) = VersionedTable.read(spark, p, v)
      .select("k", "v", "cents").as[(Long, String, Long)].collect().toSet
    assert(state(replica) == state(src, Some(v2)),
      s"streamed replica ${state(replica)} != source v2 ${state(src, Some(v2))}")

    // bootstrap + 2 marker-committed micro-batches
    assert(VersionedTable.committedVersionsPublic(spark, replica).size == 3)

    // lost checkpoint: batch ids restart at 0, both re-deliveries no-op
    runSink(s"$tmp/ckpt2")
    assert(VersionedTable.committedVersionsPublic(spark, replica).size == 3,
      "re-delivery committed new versions")
    assert(state(replica) == state(src, Some(v2)), "re-delivery changed replica state")
  }

  test("vectorIndexSink: streamed-in index serves identically to a one-shot build; lost-checkpoint restart commits nothing") {
    import graft.operators.Similarity
    import graft.sources.VersionedTable
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64; val m = 8; val dsub = dim / m
    val coarse = emb.filter($"vec_id" < 8).orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val mu = coarse.toMap
    val seeds = emb.filter($"vec_id" < 16).orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val init = (0 until m).map { j =>
      seeds.toSeq.zipWithIndex.map { case ((_, v), pos) =>
        val c = mu(Similarity.ivfProbeCells(v, coarse, 1).head)
        pos.toLong -> (j * dsub until (j + 1) * dsub).map(i => v(i).toDouble - c(i)).toSeq
      }
    }
    val cbs = Similarity.trainResidualPqCodebooks(emb, "vec_id", "embedding", dim, coarse, init, iters = 1)
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)

    val tmp = Files.createTempDirectory("graft-vecsink").toString
    val idx = s"$tmp/idx"
    Similarity.writeResidualPqIndex(
      spark, emb.filter($"vec_id" =!= 0 && $"vec_id" % 5 =!= 0), "vec_id", "embedding", idx, dim, coarse, cbs)
    val staged = emb.filter($"vec_id" =!= 0 && $"vec_id" % 5 === 0).select($"vec_id", $"embedding")
    staged.filter($"vec_id" % 10 === 0).coalesce(1).write.parquet(s"$tmp/in/g0")
    staged.filter($"vec_id" % 10 === 5).coalesce(1).write.parquet(s"$tmp/in/g5")

    def runSink(ckpt: String) = {
      val src = spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
      val q = Streaming.vectorIndexSink(
        spark, src, idx, "vec_id", "embedding", dim, coarse, cbs, checkpointLocation = ckpt, streamId = "t")
      assert(q.awaitTermination(120000), "vector index stream did not finish")
    }
    runSink(s"$tmp/ckpt1")

    // the streamed-in index serves EXACTLY like a one-shot build over the
    // full corpus (batch boundaries perturb nothing)
    val oneShotIdx = s"$tmp/oneshot"
    Similarity.writeResidualPqIndex(
      spark, emb.filter($"vec_id" =!= 0), "vec_id", "embedding", oneShotIdx, dim, coarse, cbs)
    def probe(p: String) = Similarity.probeResidualPqIndex(spark, p, "vec_id", qvec, 20, dim, coarse, cbs, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe(idx) == probe(oneShotIdx), "streamed index diverged from one-shot build")

    // initial commit + 2 micro-batch commits
    val versionsAfter = VersionedTable.committedVersionsPublic(spark, idx).size
    assert(versionsAfter == 3, s"expected 3 commits, got $versionsAfter")

    // lost checkpoint: batch ids restart at 0 under the same streamId, the
    // stream_batch manifest marker no-ops both re-deliveries
    runSink(s"$tmp/ckpt2")
    assert(VersionedTable.committedVersionsPublic(spark, idx).size == 3, "re-delivery committed new versions")
    assert(probe(idx) == probe(oneShotIdx), "re-delivery changed probe results")
  }

  /** The zombie-driver race: the live driver's batch 0 commits the next
    * version of `target` (prepared by running `sink` on a copy) and lands
    * while the zombie's batch 0 — the same source re-run under another
    * checkpoint — runs its read. `sink(path, source, checkpoint)` starts a
    * sink; the source rows are keyed by the LONG column `idCol`. Returns
    * the live commit's version.
    */
  private def zombieRace(tmp: String, target: String, srcDir: String, schema: String, idCol: String)(
      sink: (String, org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): Long = {
    import graft.sources.VersionedTable
    val live = s"$tmp/live"
    StaleBase.copyTree(java.nio.file.Paths.get(target), java.nio.file.Paths.get(live))
    val liveVersion = VersionedTable.latestVersion(spark, target).get + 1
    assert(sink(live, spark.readStream.schema(schema).parquet(srcDir), s"$tmp/ckpt-live").awaitTermination(60000))
    assert(VersionedTable.latestVersion(spark, live).contains(liveVersion))
    val publishLive = udf { (id: Long) => StaleBase.publishOnce(live, target, liveVersion); id }
    val zombieSource = spark.readStream.schema(schema).parquet(srcDir).withColumn(idCol, publishLive(col(idCol)))
    assert(sink(target, zombieSource, s"$tmp/ckpt-zombie").awaitTermination(60000))
    liveVersion
  }

  /** The versions of `path` whose commit carries `stream_batch:<streamId>` = `batch`. */
  private def markedWith(path: String, streamId: String, batch: String): Seq[Long] = {
    import graft.sources.VersionedTable
    VersionedTable.committedVersionsPublic(spark, path).sorted
      .filter(v => VersionedTable.commitField(spark, path, v, s"stream_batch:$streamId").contains(batch))
  }

  test("a zombie SCD-2 sink overtaken by the live driver's commit skips its batch instead of re-applying it") {
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-scd2zombie").toString
    val wh = s"$tmp/warehouse"
    val clock = (id: Long) =>
      org.apache.spark.sql.functions.expr(s"timestamp '2024-01-01 00:00:00' + INTERVAL '$id' SECOND")
    graft.operators.Scd2.upsertPartitioned(spark, wh, Seq((1L, "a")).toDF("k", "payload"), Seq("k"), 4,
      expr("timestamp '2023-12-31 00:00:00'")) // v1
    Seq((1L, "a2")).toDF("k", "payload").write.parquet(s"$tmp/src")
    val liveVersion = zombieRace(tmp, wh, s"$tmp/src", "k BIGINT, payload STRING", "k") { (path, in, ckpt) =>
      Streaming.scd2WarehouseSink(spark, in, path, Seq("k"), nBuckets = 4, now = clock, checkpointLocation = ckpt)
    }
    assert(VersionedTable.latestVersion(spark, wh).contains(liveVersion), "the zombie must not commit")
    assert(VersionedTable.read(spark, wh).filter($"k" === 1L).count() == 2, "closed a + active a2, once")
    assert(markedWith(wh, "default", "0") == Seq(liveVersion))
  }

  test("a zombie vector-index sink overtaken by the live driver's commit skips its batch instead of re-appending it") {
    import graft.operators.Similarity
    import graft.sources.VersionedTable
    val tmp = Files.createTempDirectory("graft-veczombie").toString
    val idx = s"$tmp/idx"
    val coarse = Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(10.0, 10.0))
    val cbs = Seq(Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 1.0)))
    Similarity.writeResidualPqIndex(spark, Seq((1L, Seq(0.5f, 0.5f))).toDF("id", "vec"), "id", "vec", idx, 2, coarse, cbs)
    Seq((2L, Seq(9.5f, 9.5f)), (3L, Seq(0.2f, 0.1f))).toDF("id", "vec").write.parquet(s"$tmp/src")
    val liveVersion = zombieRace(tmp, idx, s"$tmp/src", "id BIGINT, vec ARRAY<FLOAT>", "id") { (path, in, ckpt) =>
      Streaming.vectorIndexSink(spark, in, path, "id", "vec", 2, coarse, cbs, checkpointLocation = ckpt, streamId = "t")
    }
    assert(VersionedTable.latestVersion(spark, idx).contains(liveVersion), "the zombie must not commit")
    assert(VersionedTable.read(spark, idx).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(markedWith(idx, "t", "0") == Seq(liveVersion))
  }
}
