package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scd2

/** O-SCD2 invariants (FIXTURES.md B4): active key in batch flips to N with
  * record_to set; active key absent stays untouched; inactive versions
  * untouched; batch inserts as Y; exactly one Y per key after upsert.
  */
class Scd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val now = lit("2024-06-01 00:00:00").cast("timestamp")

  private def target = Seq(
    // (key, payload, actv_flg, record_to, insrt_ts)
    ("k1", "v1-old", "N", "2023-01-01 00:00:00", "2022-01-01 00:00:00"),
    ("k1", "v1", "Y", null, "2023-01-01 00:00:00"),
    ("k2", "v2", "Y", null, "2023-01-01 00:00:00"),
    ("k3", "v3", "Y", null, "2023-01-01 00:00:00")
  ).toDF("bkey", "payload", "actv_flg", "record_to", "insrt_ts")
    .withColumn("record_to", col("record_to").cast("timestamp"))
    .withColumn("insrt_ts", col("insrt_ts").cast("timestamp"))

  private def batch = Seq(
    ("k1", "v1-new", "2024-06-01 00:00:00"),
    ("k4", "v4", "2024-06-01 00:00:00")
  ).toDF("bkey", "payload", "insrt_ts")
    .withColumn("insrt_ts", col("insrt_ts").cast("timestamp"))

  test("upsert closes matched active rows, keeps others, inserts batch") {
    val out = Scd2.upsert(target, batch, Seq("bkey"), now).cache()
    assert(out.count() == 6)
    // k1 old active version closed
    val k1 = out.filter($"bkey" === "k1").collect()
    assert(k1.count(_.getString(2) == "Y") == 1)
    assert(k1.find(r => r.getString(1) == "v1").get.getString(2) == "N")
    assert(k1.find(r => r.getString(1) == "v1").get.getTimestamp(3) != null)
    assert(k1.find(r => r.getString(1) == "v1-new").get.getString(2) == "Y")
    // untouched active keys
    assert(out.filter($"bkey" === "k2" && $"actv_flg" === "Y" && $"record_to".isNull).count() == 1)
    assert(out.filter($"bkey" === "k3" && $"actv_flg" === "Y").count() == 1)
    // new key inserted active
    assert(out.filter($"bkey" === "k4" && $"actv_flg" === "Y").count() == 1)
    // invariant: exactly one Y per key present in batch or target-active
    val perKey = out.filter($"actv_flg" === "Y").groupBy("bkey").count().collect()
    assert(perKey.forall(_.getLong(1) == 1))
  }

  test("latestView returns one row per key, the newest") {
    val out = Scd2.upsert(target, batch, Seq("bkey"), now)
    val latest = Scd2.latestView(out, Seq("bkey"))
    assert(latest.count() == 4)
    assert(latest.filter($"bkey" === "k1").head().getString(1) == "v1-new")
  }

  test("two-key close uses independent IN-lists (J2 semantics)") {
    val tgt = Seq(
      (1, 10, "a", "Y"), // k1 in batch-k1s, k2 in batch-k2s -> closes (cross match!)
      (1, 20, "b", "Y"), // k1 matches, k2 doesn't -> stays
      (2, 10, "c", "Y"), // k2 matches, k1 doesn't -> stays
      (3, 30, "d", "Y")  // neither -> stays
    ).toDF("key1", "key2", "payload", "actv_flg")
      .withColumn("record_to", lit(null).cast("timestamp"))
    val b = Seq((1, 99, "x"), (7, 10, "y")).toDF("key1", "key2", "payload")
    val out = Scd2.upsertTwoKeyInLists(tgt, b, "key1", "key2", now).cache()
    // (1,10) closed even though no batch row is (1,10) — the reference's
    // independent-IN-list behavior (loading.py:934-938)
    assert(out.filter($"key1" === 1 && $"key2" === 10 && $"payload" === "a").head().getString(3) == "N")
    assert(out.filter($"payload" === "b").head().getString(3) == "Y")
    assert(out.filter($"payload" === "c").head().getString(3) == "Y")
    assert(out.filter($"payload" === "d").head().getString(3) == "Y")
    assert(out.count() == 6)
  }

  test("upsertPartitioned: the commit's write plan scans the warehouse exactly once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val path = java.nio.file.Files.createTempDirectory("graft-scd2-scan").toString + "/wh"
    val warehouse = new java.io.File(path).getAbsolutePath + "/"
    val load1 = (1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "payload")
    Scd2.upsertPartitioned(spark, path, load1, Seq("k"), nBuckets = 4, now = now)
    // every bucket touched: changed keys plus new ones
    val load2 = ((1 to 40 by 3).map(k => (k.toLong, s"v$k-new")) ++ Seq((41L, "v41"))).toDF("k", "payload")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.commandExecuted.isInstanceOf[InsertIntoHadoopFsRelationCommand]) writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Scd2.upsertPartitioned(spark, path, load2, Seq("k"), nBuckets = 4, now = now)
      // listener events arrive through the listener bus: poll for the write
      eventually(timeout(10.seconds), interval(50.millis))(assert(writes.size == 1))
    } finally spark.listenerManager.unregister(listener)
    val plan = writes.peek().executedPlan
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(plan) { case s: FileSourceScanExec => s }
      .filter(_.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(warehouse)))
    assert(scans.size == 1, s"the upsert must read the touched buckets once, got ${scans.size} scans:\n$plan")
    assert(scans.head.relation.location.rootPaths.size > 1, "one multi-dir relation over the touched buckets")
    val t = graft.sources.VersionedTable.read(spark, path)
    assert(t.count() == 40 + 14 + 1 && t.filter($"actv_flg" === "Y").count() == 41)
  }

  test("pointInTimeLookup: probes resolve to the version valid at their instant; gaps and pre-load probes drop out") {
    import java.sql.Timestamp
    def ts(x: String) = Timestamp.valueOf(x)
    // key 1: v1 [2020, 2021), v2 [2021, open); key 2: single [2022, open)
    val wh = Seq(
      (1L, "v1", ts("2020-01-01 00:00:00"), Option(ts("2021-01-01 00:00:00"))),
      (1L, "v2", ts("2021-01-01 00:00:00"), None: Option[Timestamp]),
      (2L, "w1", ts("2022-01-01 00:00:00"), None: Option[Timestamp])
    ).toDF("k", "payload", "record_from", "record_to")
    val probes = Seq(
      (1L, ts("2020-06-01 00:00:00")), // inside v1
      (1L, ts("2021-01-01 00:00:00")), // exactly v2's start: half-open -> v2
      (1L, ts("2019-06-01 00:00:00")), // before first load: no match
      (2L, ts("2021-06-01 00:00:00")), // before key 2 existed: no match
      (2L, ts("2023-01-01 00:00:00")) // open version
    ).toDF("k", "probe_ts")
    val got = graft.operators.Scd2.pointInTimeLookup(wh, probes, Seq("k"), "probe_ts")
      .select($"k", $"probe_ts", $"payload")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getString(2))).toSet
    assert(got == Set(
      (1L, "2020-06-01 00:00:00.0", "v1"),
      (1L, "2021-01-01 00:00:00.0", "v2"),
      (2L, "2023-01-01 00:00:00.0", "w1")
    ))
  }
}
