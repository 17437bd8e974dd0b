package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** A competing writer for the stale-base abort test: copies a commit
  * prepared in another copy of the table into place, once — the data dirs
  * its json names that the table lacks first, the commit json last (the
  * publish order).
  */
object StaleBase {
  def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally walk.close()
  }

  def publishOnce(prep: String, path: String, v: Long): Unit = synchronized {
    val json = java.nio.file.Paths.get(s"$path/_commits/$v.json")
    if (!java.nio.file.Files.exists(json)) {
      val prepared = java.nio.file.Paths.get(s"$prep/_commits/$v.json")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(prepared.toFile).path("dirs").elements()
        .forEachRemaining { d =>
          val to = java.nio.file.Paths.get(s"$path/${d.asText()}")
          if (!java.nio.file.Files.exists(to)) copyTree(java.nio.file.Paths.get(s"$prep/${d.asText()}"), to)
        }
      java.nio.file.Files.copy(prepared, json)
    }
  }
}

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a whole-table rewrite: every row on one constant partition value
  private def commitWhole(df: DataFrame, path: String): Long =
    VersionedTable.commitDelta(spark, path, df.withColumn("p", lit("0")), "p")

  // the data dir of version `v`, resolved through its own manifest
  private def dirOf(path: String, v: Long): String =
    s"$path/${VersionedTable.Snapshot.at(spark, path, v).dirOf(v)}"

  // the names of every data dir under the table root
  private def dataDirs(path: String): Set[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty).map(_.getName).filter(_.startsWith("v=")).toSet

  private def dirName(path: String, v: Long): String = new java.io.File(dirOf(path, v)).getName

  test("commit/read/time-travel/rollback semantics") {
    val path = Files.createTempDirectory("graft-vt").toString + "/t"
    assert(VersionedTable.latestVersion(spark, path).isEmpty)

    val v1 = commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    val v2 = commitWhole(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    assert((v1, v2) == (1L, 2L))

    assert(VersionedTable.read(spark, path).count() == 2) // latest
    assert(VersionedTable.read(spark, path, Some(1)).count() == 1) // time travel
    // published snapshots are immutable: a new commit doesn't change v1
    commitWhole(Seq((9, "z")).toDF("id", "v"), path)
    assert(VersionedTable.read(spark, path, Some(1)).head().getInt(0) == 1)
    assert(VersionedTable.read(spark, path).count() == 1) // v3 content
  }

  test("commitDelta aborts a stale-base commit instead of reverting the winner") {
    val path = Files.createTempDirectory("graft-vt-cc").toString + "/t"
    def state: Set[(Int, String)] =
      VersionedTable.read(spark, path).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)

    // the competitor: a v2 built on base 1, prepared in a copy of the table
    val prep = Files.createTempDirectory("graft-vt-cc-prep").toString + "/t"
    StaleBase.copyTree(java.nio.file.Paths.get(path), java.nio.file.Paths.get(prep))
    assert(commitWhole(Seq((2, "b")).toDF("id", "v"), prep) == 2L)

    // the competitor publishes WHILE our write job runs: the UDF copies its
    // data dir, then its commit json, into the table (local mode: the task
    // runs in this JVM)
    val publishWinner = udf { (id: Int) => StaleBase.publishOnce(prep, path, 2L); id }
    val ours = Seq((3, "c")).toDF("id", "v").withColumn("id", publishWinner(col("id")))
    intercept[java.util.ConcurrentModificationException] {
      commitWhole(ours, path)
    }
    assert(VersionedTable.latestVersion(spark, path).contains(2L))
    assert(state == Set((2, "b")), "the concurrent winner must not be reverted")
    assert(dataDirs(path) == Set(dirName(path, 1L), dirName(path, 2L)), "the aborted commit's data must be removed")
    // the retry (fresh base) wins cleanly — the withLatest loop shape
    assert(commitWhole(Seq((3, "c")).toDF("id", "v"), path) == 3L)
    assert(state == Set((3, "c")))
  }

  test("a crashed writer's staged dir never mixes into a commit; vacuum reclaims it by age") {
    val path = Files.createTempDirectory("graft-vt3").toString + "/t"
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    // crash orphan: a staged dir for version 2, no commit file
    val orphan = s"$path/v=2-0badc0de"
    Seq((99, "dead")).toDF("id", "v").write.parquet(s"$orphan/p=0")
    val v = commitWhole(Seq((2, "b"), (3, "c")).toDF("id", "v"), path)
    assert(v == 2L)
    // the dead run's data must NOT surface in the published version 2
    val got = VersionedTable.read(spark, path, Some(2)).collect().map(_.getInt(0)).sorted
    assert(got.toSeq == Seq(2, 3))
    assert(new java.io.File(orphan).exists(), "a writer never deletes a dir it did not stage")
    // no commit names the orphan: vacuum spares it inside the grace window
    assert(VersionedTable.vacuum(spark, path) == Nil)
    assert(VersionedTable.vacuum(spark, path, orphanGraceMs = 0) == Seq(2L))
    assert(!new java.io.File(orphan).exists())
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  test("uncommitted versions are invisible") {
    val path = Files.createTempDirectory("graft-vt2").toString + "/t"
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    // simulate a writer crash: data dir exists, commit file doesn't
    Seq((2, "b")).toDF("id", "v").write.parquet(s"$path/v=2/p=0")
    assert(VersionedTable.latestVersion(spark, path).contains(1L))
    assert(VersionedTable.read(spark, path).count() == 1)
    assertThrows[IllegalArgumentException](VersionedTable.read(spark, path, Some(2)))
  }

  test("an in-flight writer's staged dir is never reused or deleted") {
    val path = Files.createTempDirectory("graft-vt4").toString + "/t"
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    // another writer is staging version 2: its data dir exists, its commit
    // json does not yet
    val inFlight = s"$path/v=2-0000beef/p=0"
    Seq((99, "other-writer")).toDF("id", "v").write.parquet(inFlight)
    val v = commitWhole(Seq((2, "b")).toDF("id", "v"), path)
    assert(v == 2L) // versions stay gap-free; the other writer's create loses
    assert(dirOf(path, 2L) != s"$path/v=2-0000beef")
    // the other writer's in-flight data is untouched, by the commit and by
    // a vacuum inside the grace window
    assert(spark.read.parquet(inFlight).head().getInt(0) == 99)
    VersionedTable.vacuum(spark, path, retainVersions = 1)
    assert(spark.read.parquet(inFlight).head().getInt(0) == 99)
    assert(VersionedTable.read(spark, path).head().getInt(0) == 2)
  }

  test("a commit json without a partitions manifest is refused everywhere") {
    import graft.sources.{BloomIndex, DeltaExport}
    val base = Files.createTempDirectory("graft-vt-nomanifest").toString
    val path = s"$base/t"
    // two hand-written commits whose json has no `partitions` object
    val df = Seq((1L, "x")).toDF("k", "v")
    Files.createDirectories(java.nio.file.Paths.get(s"$path/_commits"))
    Seq(1L, 2L).foreach { n =>
      df.write.parquet(s"$path/v=$n")
      Files.writeString(java.nio.file.Paths.get(s"$path/_commits/$n.json"),
        s"""{"version": $n, "schema": ${graft.core.Json.str(df.schema.json)}, "committed_at": $n}""")
    }
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(path), s"$what: the refusal must name the table: ${e.getMessage}")
    }
    refused("read")(VersionedTable.read(spark, path))
    refused("changeFeed")(VersionedTable.changeFeed(spark, path, 1L, 2L, Seq("k")))
    refused("commitDelta")(VersionedTable.commitDelta(spark, path, df, "v"))
    refused("deleteKeysDeferred")(VersionedTable.deleteKeysDeferred(spark, path, Seq(1L).toDF("k"), Seq("k")))
    refused("BloomIndex.build")(BloomIndex.build(spark, path, s"$base/i", "v"))
    refused("DeltaExport.export")(DeltaExport.export(spark, path))
    assert(VersionedTable.latestVersion(spark, path).contains(2L), "a refusal must not publish")
  }

  test("delta commits rewrite only touched partitions; rest carry forward by reference") {
    val path = Files.createTempDirectory("graft-vt5").toString + "/t"
    val full = Seq((0L, 1, "a"), (1L, 2, "b"), (2L, 3, "c")).toDF("bucket", "id", "v")
    val v1 = VersionedTable.commitDelta(spark, path, full, "bucket")
    assert(v1 == 1L)
    assert(VersionedTable.read(spark, path).count() == 3)

    // second commit touches ONLY bucket 1
    val delta = Seq((1L, 2, "b2")).toDF("bucket", "id", "v")
    val v2 = VersionedTable.commitDelta(spark, path, delta, "bucket")
    assert(v2 == 2L)
    // physical check: v=2 holds exactly one partition dir; buckets 0/2 were
    // NOT copied
    val v2dirs = new java.io.File(dirOf(path, 2L)).listFiles().map(_.getName).filter(_.startsWith("p=")).sorted
    assert(v2dirs.toSeq == Seq("p=1"))
    // manifest: buckets 0/2 still reference v=1
    val m = VersionedTable.partitionMap(spark, path, 2L).get
    assert(m == Map("0" -> 1L, "1" -> 2L, "2" -> 1L))
    // logical read resolves across versions
    val rows = VersionedTable.read(spark, path).collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "a"), (1L, "b2"), (2L, "c")))
    // pruned single-partition read
    assert(VersionedTable.readPartition(spark, path, "0").get.head().getString(2) == "a")
    assert(VersionedTable.readPartition(spark, path, "9").isEmpty)
    // time travel still works on the delta table
    assert(VersionedTable.read(spark, path, Some(1L)).collect().map(_.getString(2)).sorted.toSeq == Seq("a", "b", "c"))
    // the commit records its base version — the field the optimistic
    // conflict check uses to tell "built on us" from "never saw us"
    val meta2 = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$path/_commits/2.json")), "UTF-8")
    assert(meta2.contains("\"base\": 1"))
  }

  test("deleteKeys removes every version of the keys, rewrites only their buckets, never resurrects") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Scd2
    val path = Files.createTempDirectory("graft-vt10").toString + "/t"
    val ts1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val ts2 = lit("2024-02-01 00:00:00").cast("timestamp")
    Scd2.upsertPartitioned(spark, path, (1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "payload"), Seq("k"), 4, ts1)
    // key 7 gets a second version (history row) before deletion
    Scd2.upsertPartitioned(spark, path, Seq((7L, "v7-new")).toDF("k", "payload"), Seq("k"), 4, ts2)

    val before = VersionedTable.latestVersion(spark, path).get
    Scd2.deleteKeys(spark, path, Seq(Tuple1(7L)).toDF("k"), Seq("k"), 4)
    val after = VersionedTable.latestVersion(spark, path).get
    assert(after == before + 1)
    // only key 7's bucket was rewritten in the delete commit
    val rewritten = new java.io.File(dirOf(path, after)).listFiles().map(_.getName).filter(_.startsWith("p=")).toSet
    assert(rewritten.size == 1)
    val t = VersionedTable.read(spark, path)
    assert(t.filter($"k" === 7L).count() == 0) // both versions gone
    assert(t.count() == 39)

    // bucket-emptying deletion: remove ALL keys of one bucket -> partition
    // cleared from the manifest, nothing resurrected
    val bucketOfK = t.select($"k", Scd2.keyBucket(Seq("k"), 4).as("b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val someBucket = bucketOfK.values.head
    val doomed = bucketOfK.collect { case (k, b) if b == someBucket => k }.toSeq
    Scd2.deleteKeys(spark, path, doomed.map(Tuple1(_)).toDF("k"), Seq("k"), 4)
    val t2 = VersionedTable.read(spark, path)
    assert(t2.count() == 39 - doomed.size)
    assert(VersionedTable.readPartition(spark, path, someBucket.toString).isEmpty)
  }

  test("deleteKeys removes NULL-keyed rows (null-safe takedown)") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Scd2
    val path = Files.createTempDirectory("graft-vt12").toString + "/t"
    val ts = lit("2024-01-01 00:00:00").cast("timestamp")
    val batch = Seq(Option(1L), Option(2L), Option.empty[Long]).map(k => (k, "p")).toDF("k", "payload")
    Scd2.upsertPartitioned(spark, path, batch, Seq("k"), 4, ts)
    assert(VersionedTable.read(spark, path).count() == 3)
    Scd2.deleteKeys(spark, path, Seq(Option.empty[Long]).map(Tuple1(_)).toDF("k"), Seq("k"), 4)
    val t = VersionedTable.read(spark, path)
    assert(t.filter($"k".isNull).count() == 0, "NULL-keyed row must not survive the takedown")
    assert(t.count() == 2)
  }

  test("delta read merges schemas across versions (drift: old partitions surface new columns as null)") {
    val path = Files.createTempDirectory("graft-vt11").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((0L, 1), (1L, 2)).toDF("bucket", "id"), "bucket")
    // widened schema rewrite of bucket 1 only
    VersionedTable.commitDelta(spark, path, Seq((1L, 2, "extra")).toDF("bucket", "id", "note"), "bucket")
    val t = VersionedTable.read(spark, path)
    assert(t.columns.toSeq == Seq("bucket", "id", "note"))
    val rows = t.collect().map(r => (r.getLong(0), Option(r.getAs[String]("note")))).toMap
    assert(rows(0L).isEmpty && rows(1L).contains("extra"))

    // planning a read takes its schema from the commit log: no footer job
    val sc = spark.sparkContext
    val group = s"plan-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "planning only")
    try {
      VersionedTable.read(spark, path)
      VersionedTable.readPartition(spark, path, "1")
      VersionedTable.changeFeed(spark, path, 1L, 2L, Seq("id"))
      VersionedTable.readWidened(spark, path)
    } finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty, s"planning launched ${jobs.length} job(s)")
  }

  test("a column recorded as INT by one commit and LONG by another is refused; readWidened widens it") {
    val path = Files.createTempDirectory("graft-vt-conflict").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((0, "x")).toDF("v", "p"), "p") // v1: x, v INT
    VersionedTable.commitDelta(spark, path, Seq((1, "a")).toDF("v", "p"), "p") // v2: a, v INT
    VersionedTable.commitDelta(spark, path, Seq((2L, "b")).toDF("v", "p"), "p") // v3: b, v LONG
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.toLowerCase.contains("merg"), s"$what: expected a schema-merge refusal, got ${e.getMessage}")
    }
    refused("read")(VersionedTable.read(spark, path).collect())
    refused("readPartitionsUnioned")(VersionedTable.readPartitionsUnioned(spark, path, Seq("a", "b")).get.collect())
    refused("changeFeed")(VersionedTable.changeFeed(spark, path, 1L, 3L, Seq("p")).collect())
    val w = VersionedTable.readWidened(spark, path)
    assert(w.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(w.select("v").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("compact folds accumulated small files into one file per partition; vacuum then reclaims") {
    val path = Files.createTempDirectory("graft-vt9").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((0L, 1, "a"), (1L, 2, "b")).toDF("bucket", "id", "v"), "bucket")
    // second load rewrites bucket 0 with maxRecordsPerFile=1 -> 3 small
    // files land in its partition dir (the real-world accumulation shape;
    // since the round-18 rebalance-on-write a multi-task upstream no
    // longer fans out one file per task per partition)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try
      VersionedTable.commitDelta(
        spark, path,
        Seq((0L, 3, "c"), (0L, 4, "d"), (0L, 5, "e")).toDF("bucket", "id", "v").repartition(3),
        "bucket"
      )
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    def files(p: String) = new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(s"${dirOf(path, 2L)}/p=0") > 1, "fixture should produce multiple small files")
    val cv = VersionedTable.compact(spark, path, "bucket")
    val m = VersionedTable.partitionMap(spark, path, cv).get
    assert(m.values.toSet == Set(cv)) // every partition now lives in the compacted version
    assert(files(s"${dirOf(path, cv)}/p=0") == 1 && files(s"${dirOf(path, cv)}/p=1") == 1)
    val rows = VersionedTable.read(spark, path).collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((2, "b"), (3, "c"), (4, "d"), (5, "e"))) // bucket 0 was REPLACED by load 2
    // old version dirs are now unreferenced -> vacuum reclaims them
    assert(VersionedTable.vacuum(spark, path, retainVersions = 1).toSet == Set(1L, 2L))
    assert(VersionedTable.read(spark, path).collect().map(_.getInt(1)).sorted.toSeq == Seq(2, 3, 4, 5))
  }

  test("commitDelta rebalance gate: tiny commits write one file per dir on every core, above-advisory commits stay file-bounded") {
    val path = Files.createTempDirectory("graft-vt-gate").toString + "/t"
    def files(p: String): Int =
      Option(new java.io.File(p).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    // SMALL (estimate far below the default 64 MB advisory): the gate
    // replaces the rebalance exchange with a keyed placement on the
    // partition value over defaultParallelism tasks — each value lands in
    // one task, so exactly ONE file per partition value, and the write
    // stage runs on more than one task
    val small = (0 until 64).map(i => (i % 4L, i.toLong)).toDF("bucket", "id").repartition(8)
    val sc = spark.sparkContext
    val group = s"gate-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "small-band commit")
    try VersionedTable.commitDelta(spark, path, small, "bucket")
    finally sc.clearJobGroup()
    val smallPerDir = (0 until 4).map(b => files(s"${dirOf(path, 1L)}/p=$b"))
    assert(smallPerDir.forall(_ == 1),
      s"small commit must write one file per partition dir, got $smallPerDir")
    // the write stage is the last stage of the group's last job. Job
    // status reaches the tracker through the listener bus, in order: once
    // a fence job run after the commit shows as done, every job of the
    // commit does too
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "listener-bus fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(fence).flatMap(sc.statusTracker.getJobInfo)
        .exists(_.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
    }
    val jobs = sc.statusTracker.getJobIdsForGroup(group).flatMap(sc.statusTracker.getJobInfo)
    val writeTasks = sc.statusTracker.getStageInfo(jobs.maxBy(_.jobId).stageIds.max).map(_.numTasks)
    assert(sc.defaultParallelism > 1 && writeTasks.exists(_ > 1),
      s"small-band write stage must run on more than one task, ran $writeTasks")
    // LARGE (estimate above advisory): lower the advisory so the same
    // shape crosses the gate — the rebalance bounds files per partition
    // dir by AQE sizing instead of tasks x partitions (8 tasks x 4 buckets
    // = up to 32 files ungated)
    val prevAdvisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try {
      val big = (0 until 20000).map(i => (i % 4L, i.toLong)).toDF("bucket", "id").repartition(8)
      VersionedTable.commitDelta(spark, path, big, "bucket")
      val perDir = (0 until 4).map(b => files(s"${dirOf(path, 2L)}/p=$b"))
      assert(perDir.forall(n => n >= 1 && n <= 4),
        s"rebalanced commit must bound files per partition dir (AQE-sized), got $perDir")
    } finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdvisory)
  }

  test("vacuum removes dead orphans and expired snapshots, keeps referenced delta dirs") {
    val path = Files.createTempDirectory("graft-vt7").toString + "/t"
    // delta table: v1 writes buckets 0/1/2; v2 rewrites only bucket 1
    VersionedTable.commitDelta(spark, path, Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("bucket", "v"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq((1L, "b2")).toDF("bucket", "v"), "bucket")
    // dead orphan: a staged dir no commit names
    Seq((9L, "dead")).toDF("bucket", "v").write.parquet(s"$path/v=3-deadbeef")
    // a FRESH one may belong to an in-flight writer mid-commit: the default
    // grace window protects its staged data
    assert(VersionedTable.vacuum(spark, path, retainVersions = 1) == Nil)
    assert(new java.io.File(s"$path/v=3-deadbeef").exists())
    // past the grace window (forced to 0) the orphan is reclaimed
    val removed = VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    assert(removed == Seq(3L)) // v1 still referenced by v2's manifest; orphan v3 goes
    assert(!new java.io.File(s"$path/v=3-deadbeef").exists())
    val rows = VersionedTable.read(spark, path).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "a"), (1L, "b2"), (2L, "c")))

    // whole-table rewrites: old versions actually get reclaimed
    val p2 = Files.createTempDirectory("graft-vt8").toString + "/t"
    commitWhole(Seq((1, "x")).toDF("id", "v"), p2)
    commitWhole(Seq((2, "y")).toDF("id", "v"), p2)
    commitWhole(Seq((3, "z")).toDF("id", "v"), p2)
    assert(VersionedTable.vacuum(spark, p2, retainVersions = 1) == Seq(1L, 2L))
    assert(VersionedTable.read(spark, p2).head().getInt(0) == 3)
    assertThrows[IllegalArgumentException](VersionedTable.read(spark, p2, Some(1L))) // expired
  }

  test("partition-scoped SCD-2 load rewrites only the buckets its batch touches") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Scd2
    val path = Files.createTempDirectory("graft-vt6").toString + "/t"
    val ts1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val ts2 = lit("2024-02-01 00:00:00").cast("timestamp")
    // initial load: keys spread over 4 buckets
    val batch1 = (1 to 40).map(k => (k.toLong, s"v$k")).toDF("k", "payload")
    Scd2.upsertPartitioned(spark, path, batch1, Seq("k"), nBuckets = 4, now = ts1)
    val v1Buckets = new java.io.File(dirOf(path, 1L)).listFiles().map(_.getName).filter(_.startsWith("p=")).toSet
    assert(v1Buckets.size > 1, "fixture should span several buckets")

    // second load: ONE key -> exactly one bucket rewritten
    val batch2 = Seq((7L, "v7-new")).toDF("k", "payload")
    Scd2.upsertPartitioned(spark, path, batch2, Seq("k"), nBuckets = 4, now = ts2)
    val v2Buckets = new java.io.File(dirOf(path, 2L)).listFiles().map(_.getName).filter(_.startsWith("p=")).toSet
    assert(v2Buckets.size == 1, s"expected 1 rewritten bucket, got $v2Buckets")

    // SCD-2 semantics across the partitioned table
    val t = VersionedTable.read(spark, path)
    assert(t.count() == 41) // 40 original + 1 new version of key 7
    val k7 = t.filter($"k" === 7L).collect().map(r => (r.getAs[String]("payload"), r.getAs[String]("actv_flg"))).sortBy(_._1)
    assert(k7.toSeq == Seq(("v7", "N"), ("v7-new", "Y")))
    // every other key: single active row, never closed
    assert(t.filter($"k" =!= 7L && $"actv_flg" === "Y").count() == 39)
    assert(t.filter($"k" =!= 7L && $"actv_flg" =!= "Y").count() == 0)
  }

  test("stream markers carry forward through loads, compact, and vacuum") {
    val path = Files.createTempDirectory("graft-vt11").toString + "/t"
    val df = Seq((0L, 1, "a"), (1L, 2, "b")).toDF("bucket", "id", "v")
    VersionedTable.commitDelta(spark, path, df, "bucket", extraMeta = Map("stream_batch:s1" -> "5"))
    // maintenance/ad-hoc commits inherit the marker from their base
    VersionedTable.commitDelta(spark, path, Seq((1L, 2, "b2")).toDF("bucket", "id", "v"), "bucket")
    VersionedTable.compact(spark, path, "bucket")
    val latest = VersionedTable.latestVersion(spark, path).get
    assert(VersionedTable.Snapshot.at(spark, path, latest).fields("stream_batch") == Map("stream_batch:s1" -> "5"))
    // vacuum away every older version INCLUDING the marker-bearing commit's
    // own json — the carried copy in the newest manifest must survive (the
    // re-delivered-after-maintenance exactly-once case)
    val removed = VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    assert(removed.contains(1L), s"expected the original commit to be vacuumed, removed=$removed")
    assert(VersionedTable.commitField(spark, path, latest, "stream_batch:s1").contains("5"))
    // a second stream's marker coexists; each overrides only its own key
    VersionedTable.commitDelta(
      spark, path, Seq((0L, 1, "a3")).toDF("bucket", "id", "v"), "bucket",
      extraMeta = Map("stream_batch:s2" -> "1"))
    val l2 = VersionedTable.latestVersion(spark, path).get
    assert(VersionedTable.Snapshot.at(spark, path, l2).fields("stream_batch") == Map("stream_batch:s1" -> "5", "stream_batch:s2" -> "1"))
  }

  test("commitDelta validates partition values during staging and cleans up on abort") {
    val path = Files.createTempDirectory("graft-vt12").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("b1", 1)).toDF("part", "id"), "part")
    def noStagedGarbage(): Unit = {
      val names = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty).map(_.getName)
      assert(!names.exists(_.endsWith(".tmp")), s"staged tmp dirs must be cleaned: ${names.mkString(",")}")
    }
    // NULL partition value: rejected inside the write job (would otherwise
    // land as __HIVE_DEFAULT_PARTITION__ — a manifest name unreachable via
    // readPartition of the real key), stage cleaned, nothing published
    intercept[Exception](
      VersionedTable.commitDelta(spark, path, Seq((null.asInstanceOf[String], 2)).toDF("part", "id"), "part"))
    noStagedGarbage()
    assert(VersionedTable.latestVersion(spark, path).contains(1L))
    assert(dataDirs(path) == Set(dirName(path, 1L)), "aborted stage must not leave a data dir")
    // escape-needing value: same abort path
    intercept[Exception](
      VersionedTable.commitDelta(spark, path, Seq(("a b", 3)).toDF("part", "id"), "part"))
    noStagedGarbage()
    // table stays fully writable after the aborts, with no version gap
    assert(VersionedTable.commitDelta(spark, path, Seq(("b2", 4)).toDF("part", "id"), "part") == 2L)
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  test("partitioned SCD-2 load tolerates schema drift across buckets (write-path null-padding)") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Scd2
    val path = Files.createTempDirectory("graft-vt14").toString + "/t"
    val ts1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val ts2 = lit("2024-02-01 00:00:00").cast("timestamp")
    val ts3 = lit("2024-03-01 00:00:00").cast("timestamp")
    // initial load: all buckets on the old (2-column) schema
    Scd2.upsertPartitioned(spark, path, (1 to 20).map(k => (k.toLong, s"v$k")).toDF("k", "payload"), Seq("k"), 4, ts1)
    // widened batch (new `extra` column) touching ONE bucket
    Scd2.upsertPartitioned(spark, path, Seq((1L, "v1n", "x1")).toDF("k", "payload", "extra"), Seq("k"), 4, ts2)
    // load touching a MIX of pre- and post-widening buckets — previously an
    // AnalysisException from unionByName without allowMissingColumns
    Scd2.upsertPartitioned(spark, path, (1 to 20).map(k => (k.toLong, s"w$k", s"e$k")).toDF("k", "payload", "extra"), Seq("k"), 4, ts3)
    val t = VersionedTable.read(spark, path)
    assert(t.columns.contains("extra"))
    assert(t.filter($"actv_flg" === "Y").count() == 20)
    assert(t.filter($"actv_flg" === "Y" && $"extra".isNull).count() === 0)
    // pre-widening history rows surface extra as null
    assert(t.filter($"extra".isNull).count() > 0)
  }

  test("changeFeed: typed insert/update/delete diff, reads only manifest-changed partitions") {
    val path = Files.createTempDirectory("graft-vt-cdf").toString + "/t"
    // v1: parts a(1,2) b(3) c(4). v2 rewrites ONLY part a (row 1 updated,
    // row 2 deleted, row 5 inserted) and adds part d(6); b and c carry
    // forward by manifest reference.
    val v1 = VersionedTable.commitDelta(spark,
      path, Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40)).toDF("id", "p", "x"), "p")
    val v2 = VersionedTable.commitDelta(spark,
      path, Seq((1L, "a", 11), (5L, "a", 50), (6L, "d", 60)).toDF("id", "p", "x"), "p")

    val feed = VersionedTable.changeFeed(spark, path, v1, v2, Seq("id"))
    // pruning: no file read may come from the untouched b/c partitions
    val files = feed.inputFiles
    assert(files.nonEmpty && files.forall(f => f.contains("/p=a") || f.contains("/p=d")),
      s"changeFeed read unchanged partitions: ${files.mkString("\n")}")

    val rows = feed.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(rows == Set(
      (1L, "a", 10, "update_preimage"),
      (1L, "a", 11, "update_postimage"),
      (2L, "a", 20, "delete"),
      (5L, "a", 50, "insert"),
      (6L, "d", 60, "insert")
    ), s"unexpected feed: $rows")
  }

  test("changeFeed: schema drift surfaces as update pairs with null preimage column; dup keys refused") {
    val path = Files.createTempDirectory("graft-vt-cdf2").toString + "/t"
    val v1 = VersionedTable.commitDelta(spark, path, Seq((1L, "a", 10)).toDF("id", "p", "x"), "p")
    val v2 = VersionedTable.commitDelta(spark, path,
      Seq((1L, "a", 10, "new")).toDF("id", "p", "x", "extra"), "p")
    val rows = VersionedTable.changeFeed(spark, path, v1, v2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getInt(2), Option(r.getString(3)), r.getString(4))).toSet
    assert(rows == Set(
      (1L, 10, None, "update_preimage"),
      (1L, 10, Some("new"), "update_postimage")
    ), s"unexpected drift feed: $rows")

    val v3 = VersionedTable.commitDelta(spark, path,
      Seq((7L, "a", 1, "q"), (7L, "a", 2, "r")).toDF("id", "p", "x", "extra"), "p")
    // the uniqueness guard is folded into the plan since round-18 (it
    // fires at execution via assert_true instead of an eager pre-job) —
    // still loud, still names the offending key
    val e = intercept[Exception] {
      VersionedTable.changeFeed(spark, path, v2, v3, Seq("id")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("is not unique in changed partitions"))),
      s"wrong error: $e")
  }

  test("changeFeed: identical rewrite emits nothing; version order enforced") {
    val path = Files.createTempDirectory("graft-vt-cdf3").toString + "/t"
    val df = Seq((1L, "a", 10)).toDF("id", "p", "x")
    val v1 = VersionedTable.commitDelta(spark, path, df, "p")
    val v2 = VersionedTable.commitDelta(spark, path, df, "p") // same content rewrite
    assert(VersionedTable.changeFeed(spark, path, v1, v2, Seq("id")).count() == 0)
    intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, path, v2, v1, Seq("id"))
    }
  }

  test("zone maps: prune plan, pruned read equality, lineage inheritance, rewrite drops stats") {
    val path = Files.createTempDirectory("graft-vt-zm").toString + "/t"
    // two range partitions: lo holds keys 1..10, hi holds 100..110
    val batch = ((1L to 10L) ++ (100L to 110L)).map(k => (k, if (k < 50) "lo" else "hi")).toDF("k", "p")
    VersionedTable.commitDelta(spark, path, batch, "p", statsCols = Seq("k"))
    // range [2,9] intersects only lo
    val (scan1, skip1) = VersionedTable.zonePrunePlan(spark, path, "k", 2L, 9L)
    assert(scan1 == Seq("lo") && skip1 == Seq("hi"))
    val got = VersionedTable.readZonePruned(spark, path, "k", 2L, 9L).select("k").as[Long].collect().sorted
    assert(got.toSeq == (2L to 9L), "pruned read must equal the full filter")
    // a disjoint range skips everything and returns empty with the schema intact
    val (scan0, skip0) = VersionedTable.zonePrunePlan(spark, path, "k", 500L, 600L)
    assert(scan0.isEmpty && skip0.sorted == Seq("hi", "lo"))
    assert(VersionedTable.readZonePruned(spark, path, "k", 500L, 600L).count() == 0)

    // delta commit rewriting ONLY hi (no statsCols): lo inherits its zone
    // entry along the lineage, hi drops its now-stale entry -> always scanned
    VersionedTable.commitDelta(spark, path, Seq((999L, "hi")).toDF("k", "p"), "p")
    val zones = VersionedTable.Snapshot.resolve(spark, path).fields("zone:")
    assert(zones.keySet == Set("zone:k:lo"), s"expected only lo's inherited entry, got $zones")
    val (scan2, skip2) = VersionedTable.zonePrunePlan(spark, path, "k", 2L, 9L)
    assert(scan2.sorted == Seq("hi", "lo") && skip2.isEmpty, "stat-less partition must be scanned")
    assert(VersionedTable.readZonePruned(spark, path, "k", 2L, 9L).count() == 8)

    // guard rails: zone:* via extraMeta rejected, bad stats name rejected
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, path, batch, "p", extraMeta = Map("zone:k:lo" -> "0,1"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, path, batch, "p", statsCols = Seq("bad:name"))
    }
    // all-null stat column records no entry (partition always scanned)
    val p2 = Files.createTempDirectory("graft-vt-zm2").toString + "/t"
    val nulls = Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("k", "p")
    VersionedTable.commitDelta(spark, p2, nulls, "p", statsCols = Seq("k"))
    val z2 = VersionedTable.Snapshot.resolve(spark, p2).fields("zone:")
    assert(z2.keySet == Set("zone:k:a"))
    val (scanN, skipN) = VersionedTable.zonePrunePlan(spark, p2, "k", 100L, 200L)
    assert(scanN == Seq("b") && skipN == Seq("a"))
  }

  test("deletion vectors: metadata-only delete, time travel, no resurrection, compact applies, vacuum reclaims") {
    val path = Files.createTempDirectory("graft-vt-dv").toString + "/t"
    def f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b"), (4L, "w", "b")).toDF("k", "v", "p")
    VersionedTable.commitDelta(spark, path, batch, "p")
    val preParts = VersionedTable.partitionMap(spark, path, 1L).get

    val vDel = VersionedTable.deleteKeysDeferred(spark, path, Seq(2L, 3L).toDF("k"), Seq("k"))
    // the delete is visible immediately...
    def keys(ver: Option[Long] = None): Set[Long] =
      VersionedTable.read(spark, path, ver).select("k").as[Long].collect().toSet
    assert(keys() == Set(1L, 4L))
    // ...but NO data bucket was rewritten (every partition still resolves
    // to its pre-delete version dir) — the metadata-only claim
    assert(VersionedTable.partitionMap(spark, path, vDel).get == preParts)
    // time travel BEFORE the delete still sees the doomed rows
    assert(keys(Some(1L)) == Set(1L, 2L, 3L, 4L))
    // partition-pruned reads filter too (the SCD-2 rebuild path)
    val pa = VersionedTable.readPartition(spark, path, "a").get.select("k").as[Long].collect().toSet
    assert(pa == Set(1L), "readPartition must apply pending vectors")

    // a later commit rewriting partition a must NOT resurrect key 2 in b
    VersionedTable.commitDelta(spark, path, Seq((5L, "q", "a")).toDF("k", "v", "p"), "p")
    assert(keys() == Set(5L, 4L), "a carries the rewrite; b still filters key 3 via the inherited vector")

    // compact = the physical pass: vectors applied, entries cleared,
    // fully-deleted partitions dropped rather than carried stale
    val vc = VersionedTable.compact(spark, path, "p")
    assert(VersionedTable.Snapshot.at(spark, path, vc).fields("dv:").isEmpty, "compact must spend the vectors")
    assert(keys() == Set(5L, 4L))
    // vacuum with a window past the pre-compact manifests reclaims the sidecar
    VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0L)
    val dvDir = new org.apache.hadoop.fs.Path(s"$path/_dv")
    assert(!f.exists(dvDir) || f.listStatus(dvDir).isEmpty, "spent sidecars must be reclaimed")
    assert(keys() == Set(5L, 4L), "post-vacuum state unchanged")
  }

  test("deletion vectors are boundary-scoped: a post-delete re-insert of a doomed key stays visible") {
    val path = Files.createTempDirectory("graft-vt-dv3").toString + "/t"
    val batch = Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b")).toDF("k", "v", "p")
    VersionedTable.commitDelta(spark, path, batch, "p")
    VersionedTable.deleteKeysDeferred(spark, path, Seq(2L, 3L).toDF("k"), Seq("k"))
    def keys(): Set[Long] =
      VersionedTable.read(spark, path).select("k").as[Long].collect().toSet
    assert(keys() == Set(1L), "both doomed keys suppressed after the delete")
    // key 2 legitimately RE-INSERTED by a later commit: the vector is
    // scoped to data at-or-before its base version, so the new row is
    // exempt (copy-on-write deleteKeys semantics) while partition b's
    // old key 3 stays deleted
    VersionedTable.commitDelta(spark, path, Seq((1L, "x", "a"), (2L, "y2", "a")).toDF("k", "v", "p"), "p")
    assert(keys() == Set(1L, 2L), s"re-inserted key must be visible, got ${keys()}")
    // the re-inserted value, not the doomed original
    val v2 = VersionedTable.read(spark, path).filter($"k" === 2L).select("v").as[String].head()
    assert(v2 == "y2")
    // partition-pruned and zone-pruned read paths agree
    assert(VersionedTable.readPartition(spark, path, "a").get
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
    // compact (the physical pass) preserves the re-insert and spends the vector
    val vc = VersionedTable.compact(spark, path, "p")
    assert(VersionedTable.Snapshot.at(spark, path, vc).fields("dv:").isEmpty)
    assert(keys() == Set(1L, 2L), "compact must not re-suppress the re-insert")
  }

  test("readWidened: int->long and int+double->double across commits; incompatible types refuse") {
    val path = Files.createTempDirectory("graft-vt-w").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((1, "a")).toDF("v", "p"), "p") // v INT
    VersionedTable.commitDelta(spark, path, Seq((2L, "b")).toDF("v", "p"), "p") // v LONG
    val w = VersionedTable.readWidened(spark, path)
    assert(w.schema("v").dataType.typeName == "long")
    assert(w.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    VersionedTable.commitDelta(spark, path, Seq((2.5, "c")).toDF("v", "p"), "p") // v DOUBLE
    val w2 = VersionedTable.readWidened(spark, path)
    assert(w2.schema("v").dataType.typeName == "double")
    assert(w2.select("v").as[Double].collect().sorted.toSeq == Seq(1.0, 2.0, 2.5))
    VersionedTable.commitDelta(spark, path, Seq(("str", "d")).toDF("v", "p"), "p")
    intercept[IllegalStateException] { VersionedTable.readWidened(spark, path).collect() }
  }

  test("divergedPartitions: identical replicas all clean; one-sided partition flags with null count") {
    val pa = Files.createTempDirectory("graft-vt-da").toString + "/t"
    val pb = Files.createTempDirectory("graft-vt-db").toString + "/t"
    val rows = Seq((1L, "x", "p0"), (2L, "y", "p1")).toDF("k", "v", "p")
    VersionedTable.commitDelta(spark, pa, rows, "p")
    VersionedTable.commitDelta(spark, pb, rows.unionByName(Seq((3L, "z", "p2")).toDF("k", "v", "p")), "p")
    val out = VersionedTable.divergedPartitions(spark, pa, pb)
      .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(out == Map("p0" -> false, "p1" -> false, "p2" -> true))

    // null-discriminating fingerprint: same counts, but a value swapped
    // between a null and a non-null column within a row must diverge
    // (xxhash64 skips nulls — untagged inputs hashed (x,null)==(null,x))
    val pc = Files.createTempDirectory("graft-vt-dc").toString + "/t"
    val pd = Files.createTempDirectory("graft-vt-dd").toString + "/t"
    VersionedTable.commitDelta(spark, pc,
      Seq((1L, Option("x"), Option.empty[String], "p0")).toDF("k", "u", "w", "p"), "p")
    VersionedTable.commitDelta(spark, pd,
      Seq((1L, Option.empty[String], Option("x"), "p0")).toDF("k", "u", "w", "p"), "p")
    val nullSwap = VersionedTable.divergedPartitions(spark, pc, pd)
      .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(nullSwap == Map("p0" -> true), s"null-position swap must diverge, got $nullSwap")
  }

  test("applyChangeFeed: replica follows source exactly (history included), idempotent re-apply, touched buckets only") {
    val src = Files.createTempDirectory("graft-vt-cdc-s").toString + "/t"
    val rep = Files.createTempDirectory("graft-vt-cdc-r").toString + "/t"
    // v1: three keys across two buckets; v2: update k2, delete-less insert k4, k3 untouched bucket
    VersionedTable.commitDelta(spark, src,
      Seq((1L, "a", "b0"), (2L, "b", "b0"), (3L, "c", "b1")).toDF("k", "v", "pb"), "pb")
    VersionedTable.commitDelta(spark, src,
      Seq((1L, "a", "b0"), (2L, "B2", "b0"), (4L, "d", "b0")).toDF("k", "v", "pb"), "pb")
    VersionedTable.commitDelta(spark, rep,
      VersionedTable.read(spark, src, Some(1L)), "pb")
    val feed = VersionedTable.changeFeed(spark, src, 1L, 2L, Seq("k"))
    VersionedTable.applyChangeFeed(spark, rep, feed, Seq("k"), "pb")
    def state(path: String): Set[(Long, String, String)] =
      VersionedTable.read(spark, path).select("k", "v", "pb").as[(Long, String, String)].collect().toSet
    assert(state(rep) == state(src), "replica must equal source v2 exactly")
    // untouched bucket b1 was NOT rewritten (still resolves to the bootstrap version)
    val repParts = VersionedTable.partitionMap(spark, rep, VersionedTable.latestVersion(spark, rep).get).get
    assert(repParts("b1") == 1L, s"untouched bucket must carry forward, got $repParts")
    // idempotent: re-applying the same feed converges to the same state
    VersionedTable.applyChangeFeed(spark, rep, feed, Seq("k"), "pb")
    assert(state(rep) == state(src), "re-apply must be a no-op on state")
  }

  test("retentionSweep: doomed partitions drop, straddlers rewrite with the residual, newer carry untouched") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val tmp = Files.createTempDirectory("graft-retention").toString + "/t"
    // epochs 100..399 in partitions e1(100s), e2(200s), e3(300s)
    val rows = (100L to 399L).map(e => (e, s"r$e"))
      .toDF("ts_epoch", "v")
      .withColumn("pe", concat(lit("e"), (col("ts_epoch") / 100).cast("long").cast("string")))
    val v1 = VersionedTable.commitDelta(spark, tmp, rows, "pe", statsCols = Seq("ts_epoch"))
    // cutoff 250: e1 wholly doomed, e2 straddles, e3 untouched
    VersionedTable.retentionSweep(spark, tmp, "pe", "ts_epoch", 250L)
    val got = VersionedTable.read(spark, tmp).select("ts_epoch").as[Long].collect().sorted.toSeq
    assert(got == (250L to 399L), s"survivors wrong: ${got.take(5)}...${got.takeRight(5)}")
    val parts = VersionedTable.partitionMap(spark, tmp, VersionedTable.latestVersion(spark, tmp).get).get
    assert(!parts.contains("e1"), "wholly-doomed partition must drop from the manifest")
    assert(parts("e3") == v1, s"untouched partition must carry forward, got $parts")
    assert(parts("e2") != v1, "straddling partition must have been rewritten")
    // nothing intersecting: a no-op returns the current version, no commit
    val before = VersionedTable.committedVersionsPublic(spark, tmp).size
    VersionedTable.retentionSweep(spark, tmp, "pe", "ts_epoch", 250L)
    assert(VersionedTable.committedVersionsPublic(spark, tmp).size == before,
      "a sweep with nothing expiring must not commit")
  }

  test("a commit based on a superseded snapshot aborts, leaves no version dir, and keeps the winner") {
    val path = Files.createTempDirectory("graft-vt-superseded").toString + "/t"
    def state: Set[(Int, String)] =
      VersionedTable.read(spark, path).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    val read1 = VersionedTable.latestSnapshot(spark, path)
    commitWhole(Seq((2, "b")).toDF("id", "v"), path) // the winner, v2
    val sc = spark.sparkContext
    val group = s"stale-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "overtaken commit")
    try intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commitDeltaOn(spark, path, read1, Seq((3, "c")).toDF("id", "v").withColumn("p", lit("0")), "p")
    } finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty, s"an overtaken base must abort before any job; ran ${jobs.length}")
    assert(VersionedTable.latestVersion(spark, path).contains(2L))
    assert(dataDirs(path) == Set(dirName(path, 1L), dirName(path, 2L)), "the aborted commit must leave no data dir")
    assert(state == Set((2, "b")), "the winner's rows must stay")
  }

  test("deleteKeysDeferred overtaken by a compaction retries on it: the deleted key reads 0 rows") {
    val path = Files.createTempDirectory("graft-vt-dv-race").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((1L, "x", "a"), (2L, "y", "b")).toDF("k", "v", "p"), "p") // v1
    // the competitor: a compaction of v1 (v2, rewriting every partition),
    // prepared in a copy and published while the delete's key job runs
    val prep = Files.createTempDirectory("graft-vt-dv-race-prep").toString + "/t"
    StaleBase.copyTree(java.nio.file.Paths.get(path), java.nio.file.Paths.get(prep))
    assert(VersionedTable.compact(spark, prep, "p") == 2L)
    val publishCompaction = udf { (k: Long) => StaleBase.publishOnce(prep, path, 2L); k }
    val keys = Seq(1L).toDF("k").withColumn("k", publishCompaction(col("k")))
    val v = VersionedTable.deleteKeysDeferred(spark, path, keys, Seq("k"))
    val latest = VersionedTable.read(spark, path)
    assert(latest.filter($"k" === 1L).count() == 0, "a vector scoped before the compaction exempts every row")
    assert(latest.count() == 1)
    // the attempt on v1 lost version 2 and aborted; the retry committed on v2
    assert(v == 3L && VersionedTable.Snapshot.at(spark, path, v).base.contains(2L))
  }

  test("changeFeed across a deferred delete reports the deleted row; a replica following it drops the key") {
    val path = Files.createTempDirectory("graft-vt-dv-cdf").toString + "/t"
    val rep = Files.createTempDirectory("graft-vt-dv-cdf-r").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((1L, "x", "a"), (2L, "y", "a")).toDF("k", "v", "p"), "p")
    VersionedTable.commitDelta(spark, rep, VersionedTable.read(spark, path), "p")
    val vDel = VersionedTable.deleteKeysDeferred(spark, path, Seq(1L).toDF("k"), Seq("k"))
    assert(VersionedTable.read(spark, path).count() == 1)
    val feed = VersionedTable.changeFeed(spark, path, 1L, vDel, Seq("k"))
    assert(feed.select("k", "v", "_change_type").as[(Long, String, String)].collect().toSeq == Seq((1L, "x", "delete")))
    VersionedTable.applyChangeFeed(spark, rep, feed, Seq("k"), "p")
    assert(VersionedTable.read(spark, rep).select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("concurrent blind writers get distinct gap-free versions and lose no committed partition") {
    val path = Files.createTempDirectory("graft-vt-race").toString + "/t"
    val (writers, rounds) = (3, 25)
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    // per writer, per round: the version it won, or what it failed with
    val outcomes: Seq[Seq[Either[Throwable, Long]]] =
      try (0 until writers).map { w =>
        pool.submit(() => {
          barrier.await()
          (0 until rounds).map { i =>
            try Right(VersionedTable.commitDelta(spark, path, Seq((s"w$w", i)).toDF("p", "i"), "p"))
            catch { case e: Throwable => Left(e) }
          }
        })
      }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally pool.shutdownNow()
    val failures = outcomes.flatten.collect { case Left(e) => e }
    assert(failures.forall(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"a lost race must abort with ConcurrentModificationException: ${failures.filterNot(
        _.isInstanceOf[java.util.ConcurrentModificationException]).take(3).mkString("; ")}")
    val won = outcomes.zipWithIndex.flatMap { case (os, w) =>
      os.zipWithIndex.collect { case (Right(v), i) => (v, s"w$w", i) }
    }.sortBy(_._1)
    assert(won.map(_._1) == (1L to won.size.toLong), "every win is a distinct version, gap-free")
    assert(VersionedTable.committedVersionsPublic(spark, path).sorted == won.map(_._1))
    // every version reads back as the last win of each writer up to it
    won.foreach { case (v, _, _) =>
      val expected = won.filter(_._1 <= v).groupBy(_._2).map { case (p, ws) => (p, ws.last._3) }.toSet
      val got = VersionedTable.read(spark, path, Some(v)).select("p", "i").as[(String, Int)].collect().toSet
      assert(got == expected, s"version $v")
    }
  }

  test("a vacuum loop running beside a writer never loses a committed update") {
    val path = Files.createTempDirectory("graft-vt-vacrace").toString + "/t"
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vacuumErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val passes = new java.util.concurrent.atomic.AtomicInteger()
    val vacuumer = new Thread(() =>
      while (!done.get()) {
        try VersionedTable.vacuum(spark, path, retainVersions = 1)
        catch { case e: Throwable => vacuumErrors.add(e) }
        passes.incrementAndGet()
      })
    vacuumer.start()
    try (0 until 60).foreach(i => VersionedTable.commitDelta(spark, path, Seq(((i % 4).toString, i)).toDF("p", "i"), "p"))
    finally { done.set(true); vacuumer.join() }
    assert(vacuumErrors.isEmpty, s"vacuum failed: ${vacuumErrors.peek()}")
    assert(passes.get() > 1, "the vacuum loop must overlap the commits")
    val got = VersionedTable.read(spark, path).select("p", "i").as[(String, Int)].collect().toSet
    assert(got == Set(("0", 56), ("1", 57), ("2", 58), ("3", 59)))
  }

  test("vacuum keeps an expired version number taken inside the grace window: a writer on an older base still aborts") {
    val path = Files.createTempDirectory("graft-vt-vacbase").toString + "/t"
    commitWhole(Seq((1, "a")).toDF("id", "v"), path)
    val base1 = VersionedTable.latestSnapshot(spark, path) // a writer reads version 1 ...
    commitWhole(Seq((2, "b")).toDF("id", "v"), path)
    commitWhole(Seq((3, "c")).toDF("id", "v"), path)
    // ... while others commit 2 and 3 and a vacuum expires version 2's data
    assert(VersionedTable.vacuum(spark, path, retainVersions = 1) == Seq(1L, 2L))
    intercept[IllegalArgumentException](VersionedTable.read(spark, path, Some(2L)))
    // the writer's create of 2.json must still lose: had the expired json
    // gone with its data, the stale commit would win version 2 and its row
    // would never reach the latest version
    intercept[java.util.ConcurrentModificationException](
      VersionedTable.commitDeltaOn(spark, path, base1, Seq((9, "z")).toDF("id", "v").withColumn("p", lit("0")), "p"))
    assert(VersionedTable.read(spark, path).collect().map(_.getInt(0)).toSeq == Seq(3))
    // past the grace window the expired jsons go too
    VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    assert(VersionedTable.committedVersionsPublic(spark, path) == Seq(3L))
  }

  test("vacuum spares an uncommitted deletion-vector sidecar inside the grace window") {
    val path = Files.createTempDirectory("graft-vt-dv-grace").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
    // an in-flight deferred delete: its sidecar is written, its commit is not
    val sidecar = new java.io.File(s"$path/_dv/dv-inflight")
    Seq(1L).toDF("k").write.parquet(sidecar.toString)
    VersionedTable.vacuum(spark, path, retainVersions = 1)
    assert(sidecar.exists(), "a sidecar no commit names yet must survive the default grace")
    VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    assert(!sidecar.exists(), "past the grace window the orphan sidecar is reclaimed")
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  test("a table on a store without an atomic put-if-absent is refused at commit, naming its scheme") {
    val e = intercept[UnsupportedOperationException](
      VersionedTable.commitDeltaOn(spark, "s3a://bucket/t", None, Seq((1L, "a")).toDF("k", "p"), "p"))
    assert(e.getMessage.contains("'s3a'"), e.getMessage)
  }

  test("sinks commit only on the snapshot their marker check read; retired retry names stay gone") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath} is missing")
    def lines(f: java.nio.file.Path): Seq[(String, Int)] = Files.readAllLines(f).asScala.toSeq.zipWithIndex
    val retired = """\b(withCommitRetry|applyChangeFeedOnce|lastStreamBatch|commitMeta)\b""".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(java.nio.file.Paths.get("sources", "VersionedTable.scala")))
        .flatMap(f => lines(f).collect { case (l, i) if retired.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}" })
        .toList
      finally walk.close()
    assert(offenders.isEmpty, "one retry loop per commit, in VersionedTable.withLatest:\n" + offenders.mkString("\n"))
    // a sink that called a retrying (or blind) commit form would nest a
    // second loop inside exactlyOnce's: its retry would rebase without
    // re-checking the marker
    val streaming = lines(root.resolve("graft/streaming/Streaming.scala"))
    val nested = """\b(upsertPartitioned|applyChangeFeed|commitDelta)\(""".r
    val nestedAt = streaming.collect { case (l, i) if nested.findFirstIn(l).isDefined => s"Streaming.scala:${i + 1}: ${l.trim}" }
    assert(nestedAt.isEmpty, "sinks must commit through the snapshot-taking forms (upsertPartitionedOn, applyChangeFeedOn, commitDeltaOn):\n" + nestedAt.mkString("\n"))
    assert(streaming.count(_._1.contains("withLatest(")) == 1, "only exactlyOnce may open a retry loop in Streaming")
  }
}
