package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaExport, VersionedTable}

/** The manifest->Delta-log mapping documented in INTEROP.md, proven by
  * replay: folding the exported add/remove actions must reconstruct exactly
  * the file set (and therefore the rows) the newest VersionedTable manifest
  * resolves to.
  */
class DeltaExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def replayLiveFiles(entries: Seq[DeltaExport.LogEntry]): Set[String] = {
    var live = Set.empty[String]
    entries.foreach { e =>
      e.actions.foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("add")) live += n.path("add").path("path").asText()
        if (n.has("remove")) live -= n.path("remove").path("path").asText()
      }
    }
    live
  }

  test("exported Delta log replays to the same state as the newest manifest") {
    val path = Files.createTempDirectory("graft-dexp").toString + "/t"
    // v1: partitions a,b; v2: rewrite b only (a carries forward by
    // reference); v3: delete everything in a (cleared partition)
    VersionedTable.commitDelta(spark, path,
      Seq(("a", 1), ("a", 2), ("b", 3)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path,
      Seq(("b", 30), ("b", 31)).toDF("bucket", "x"), "bucket")
    VersionedTable.deleteWhere(spark, path, "bucket", Seq("a"), col("bucket") === "a")

    val entries = DeltaExport.export(spark, path)

    // gap-free 0-based numbering in commit order
    assert(entries.map(_.deltaVersion) == Seq(0L, 1L, 2L))
    assert(entries.map(_.sourceVersion) == VersionedTable.committedVersionsPublic(spark, path).sorted)

    // entry 0 leads with protocol + metaData; schemaString is the manifest
    // schema verbatim (both serialize StructType.json)
    val first = entries.head.actions.map(mapper.readTree)
    assert(first.head.has("protocol"))
    assert(first(1).has("metaData"))
    val schemaString = first(1).path("metaData").path("schemaString").asText()
    assert(schemaString == VersionedTable.commitField(spark, path, entries.head.sourceVersion, "schema").get)
    org.apache.spark.sql.types.DataType.fromJson(schemaString) // parses as a Spark schema

    // log files on disk: one per entry, Delta's zero-padded naming
    val logDir = new java.io.File(s"$path/_delta_log")
    assert(logDir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("00000000000000000000.json", "00000000000000000001.json", "00000000000000000002.json"))

    // the carried-forward partition's files are NOT re-added by entry 1
    // (cumulative state, like the manifest's by-reference carry-forward)
    val entry1 = entries(1).actions.map(mapper.readTree)
    assert(entry1.filter(_.has("add")).forall(_.path("add").path("path").asText().contains("/p=b/")))

    // REPLAY: fold add/remove -> live set == files the newest manifest
    // references == the rows VersionedTable.read returns
    val live = replayLiveFiles(entries)
    val viaDelta = spark.read.parquet(live.toSeq.sorted.map(p => s"$path/$p"): _*)
      .select($"bucket", $"x").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val viaManifest = VersionedTable.read(spark, path)
      .select($"bucket", $"x").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(viaDelta == viaManifest)
    assert(viaDelta.forall(_._1 == "b")) // the deleteWhere took partition a with it

    // every live path exists; every removed path belonged to an earlier add
    live.foreach(p => assert(new java.io.File(s"$path/$p").isFile, s"live file missing: $p"))
  }

  test("whole-table rewrites swap the whole file set; a schema change emits metaData") {
    val path = Files.createTempDirectory("graft-dexp2").toString + "/t"
    // every row on one constant partition value: each commit rewrites it all
    VersionedTable.commitDelta(spark, path, Seq((1, "a")).toDF("id", "v").withColumn("p", lit("0")), "p")
    VersionedTable.commitDelta(spark, path,
      Seq((1, "a", true), (2, "b", false)).toDF("id", "v", "flag").withColumn("p", lit("0")), "p")

    val entries = DeltaExport.export(spark, path)
    assert(entries.size == 2)

    // v2 swaps the file set: adds its own files, removes ALL of v1's
    val e1 = entries(1).actions.map(mapper.readTree)
    assert(e1.exists(_.has("add")) && e1.exists(_.has("remove")))
    def dir(v: Long): String = VersionedTable.Snapshot.at(spark, path, v).dirOf(v) + "/"
    e1.filter(_.has("add")).foreach(n => assert(n.path("add").path("path").asText().startsWith(dir(2L))))
    e1.filter(_.has("remove")).foreach(n => assert(n.path("remove").path("path").asText().startsWith(dir(1L))))

    // widened schema ⇒ a fresh metaData action on the second entry
    assert(e1.exists(_.has("metaData")))

    val live = replayLiveFiles(entries)
    val viaDelta = spark.read.parquet(live.toSeq.sorted.map(p => s"$path/$p"): _*)
    assert(viaDelta.columns.sorted.toSeq == Seq("flag", "id", "p", "v"))
    assert(viaDelta.count() == 2)
  }

  test("stream markers export as txn actions exactly when their value changes") {
    val path = java.nio.file.Files.createTempDirectory("graft-dexp-txn").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket",
      extraMeta = Map("stream_batch:s1" -> "0"))
    // carries s1 forward unchanged (manifest lineage), adds nothing new
    VersionedTable.commitDelta(spark, path, Seq(("b", 2)).toDF("bucket", "x"), "bucket")
    // s1 advances AND a second stream lands its first batch
    VersionedTable.commitDelta(spark, path, Seq(("a", 10)).toDF("bucket", "x"), "bucket",
      extraMeta = Map("stream_batch:s1" -> "1", "stream_batch:s2" -> "0"))
    val entries = DeltaExport.buildLog(spark, path)
    def txns(e: DeltaExport.LogEntry): Seq[(String, Long)] =
      e.actions.map(mapper.readTree).filter(_.has("txn"))
        .map(n => (n.path("txn").path("appId").asText(), n.path("txn").path("version").asLong()))
    assert(txns(entries(0)) == Seq(("s1", 0L)))
    assert(txns(entries(1)).isEmpty, "carried-forward marker must not re-emit")
    assert(txns(entries(2)) == Seq(("s1", 1L), ("s2", 0L)))
  }

  test("checkpoint emission: import reads via the checkpoint after log JSONs are vacuumed") {
    val path = Files.createTempDirectory("graft-dexp-ckpt").toString + "/t"
    // 6 commits -> delta versions 0..5; checkpointEvery=2 -> checkpoints at
    // 2 and 4, _last_checkpoint pointing at 4
    VersionedTable.commitDelta(spark, path,
      Seq(("a", 1), ("b", 2)).toDF("bucket", "x"), "bucket",
      extraMeta = Map("stream_batch:s1" -> "0"))
    VersionedTable.commitDelta(spark, path, Seq(("b", 20)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 10)).toDF("bucket", "x"), "bucket",
      extraMeta = Map("stream_batch:s1" -> "1"))
    VersionedTable.commitDelta(spark, path, Seq(("c", 30)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 21)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 11)).toDF("bucket", "x"), "bucket")
    DeltaExport.export(spark, path, checkpointEvery = 2)

    val logDir = new java.io.File(s"$path/_delta_log")
    val names = logDir.listFiles().map(_.getName).toSet
    assert(names.contains("00000000000000000002.checkpoint.parquet"))
    assert(names.contains("00000000000000000004.checkpoint.parquet"))
    assert(names.contains("_last_checkpoint"))

    // _last_checkpoint: external readers' seek pointer — version + action count
    val lc = mapper.readTree(Files.readString(logDir.toPath.resolve("_last_checkpoint")))
    assert(lc.path("version").asLong() == 4L)
    val ckpt = spark.read.parquet(s"$path/_delta_log/00000000000000000004.checkpoint.parquet")
    assert(lc.path("size").asLong() == ckpt.count())
    // classic action-column shape; checkpoint adds re-state data, dataChange=false
    assert(ckpt.columns.sorted.toSeq == Seq("add", "metaData", "protocol", "remove", "txn"))
    assert(ckpt.filter(col("add").isNotNull).select(col("add.dataChange"))
      .collect().forall(!_.getBoolean(0)))
    // cumulative txn state is re-stated (s1 advanced at version 2)
    assert(ckpt.filter(col("txn").isNotNull).select(col("txn.appId"), col("txn.version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("s1", 1L)))

    // the import half already reads checkpointed logs: with the covered
    // JSONs vacuumed away, replay goes checkpoint-4 + JSON-5
    import graft.sources.DeltaImport
    (0L to 4L).foreach(v => assert(new java.io.File(s"$path/_delta_log/" + f"$v%020d.json").delete()))
    val got = DeltaImport.read(spark, path).select(col("bucket"), col("x")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = VersionedTable.read(spark, path).select(col("bucket"), col("x")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == want)
    // history below the checkpoint is genuinely gone — explicit error
    val e = intercept[IllegalArgumentException](DeltaImport.read(spark, path, versionAsOf = Some(1L)))
    assert(e.getMessage.contains("vacuum"))
  }

  test("column-mapping export: a renamed column survives import-after-export") {
    import graft.sources.DeltaImport
    val path = Files.createTempDirectory("graft-dexp-cm").toString + "/t"
    VersionedTable.commitDelta(spark, path,
      Seq(("a", 1, "x1"), ("b", 2, "x2")).toDF("bucket", "x", "name"), "bucket")
    VersionedTable.commitDelta(spark, path,
      Seq(("b", 20, "x2b")).toDF("bucket", "x", "name"), "bucket")
    val entries = DeltaExport.export(spark, path, renames = Map("name" -> "customer_name"))

    // metadata shape: protocol (2,5), name mode + maxColumnId, and the
    // renamed field carrying its physicalName back to the data files
    val first = entries.head.actions.map(mapper.readTree)
    val proto = first.find(_.has("protocol")).get.path("protocol")
    assert(proto.path("minReaderVersion").asInt() == 2 && proto.path("minWriterVersion").asInt() == 5)
    val meta = first.find(_.has("metaData")).get.path("metaData")
    assert(meta.path("configuration").path("delta.columnMapping.mode").asText() == "name")
    assert(meta.path("configuration").path("delta.columnMapping.maxColumnId").asText() == "3")
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.path("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("bucket", "x", "customer_name"))
    val renamed = schema("customer_name")
    assert(renamed.metadata.getString("delta.columnMapping.physicalName") == "name")
    assert(schema.fields.map(_.metadata.getLong("delta.columnMapping.id")).toSeq == Seq(1L, 2L, 3L))

    // the round trip: DeltaImport resolves the logical name back to the
    // physical parquet column — values identical, zero data rewritten
    val got = DeltaImport.read(spark, path)
      .select(col("bucket"), col("x"), col("customer_name")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(("a", 1, "x1"), ("b", 20, "x2b")))

    // renaming a column that does not exist is refused loudly
    val e = intercept[IllegalArgumentException](
      DeltaExport.buildLog(spark, path, renames = Map("nope" -> "x2")))
    assert(e.getMessage.contains("nope"))

    // a rename target colliding with an unrenamed column — or two keys
    // sharing a target — is refused at export, not left as a duplicate
    // logical name for importers to choke on (ADVICE r14 #2)
    val c1 = intercept[IllegalArgumentException](
      DeltaExport.buildLog(spark, path, renames = Map("name" -> "bucket")))
    assert(c1.getMessage.contains("bucket"))
    val c2 = intercept[IllegalArgumentException](
      DeltaExport.buildLog(spark, path, renames = Map("name" -> "same", "x" -> "same")))
    assert(c2.getMessage.contains("same"))
  }

  test("column-mapping survives a checkpoint seek (configuration is not dropped)") {
    import graft.sources.DeltaImport
    val path = Files.createTempDirectory("graft-dexp-cmc").toString + "/t"
    (1 to 6).foreach { i =>
      VersionedTable.commitDelta(spark, path,
        Seq(("a", i, s"n$i")).toDF("bucket", "x", "name"), "bucket")
    }
    DeltaExport.export(spark, path, checkpointEvery = 2, renames = Map("name" -> "label"))
    // vacuum the JSONs the newest checkpoint (delta version 4) covers:
    // replay must seed from the checkpoint and STILL know the table is
    // column-mapped — the metaData there carries no fresh schema action
    (0L to 4L).foreach(v => assert(new java.io.File(s"$path/_delta_log/" + f"$v%020d.json").delete()))
    val st = DeltaImport.state(spark, path)
    assert(st.columnMappingMode == "name",
      s"checkpoint dropped the column-mapping configuration: mode=${st.columnMappingMode}")
    val got = DeltaImport.read(spark, path).select(col("x"), col("label")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((6, "n6")))
  }

  test("partitioned export: declared partitionColumns + per-add partitionValues, import prunes at plan time") {
    import scala.jdk.CollectionConverters._
    import graft.sources.DeltaImport
    val path = Files.createTempDirectory("graft-dexp-part").toString + "/t"
    VersionedTable.commitDelta(spark, path,
      Seq(("a", 1), ("a", 2), ("b", 3)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path,
      Seq(("b", 30)).toDF("bucket", "x"), "bucket")
    val entries = DeltaExport.export(spark, path, partitioned = true)

    // metadata declares the partition column; every add carries its value
    // parsed from the p= layout
    val meta = entries.head.actions.map(mapper.readTree).find(_.has("metaData")).get.path("metaData")
    assert(meta.path("partitionColumns").elements().asScala.map(_.asText()).toSeq == Seq("bucket"))
    val adds = entries.flatMap(_.actions.map(mapper.readTree)).filter(_.has("add")).map(_.path("add"))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val p = a.path("path").asText()
      val v = a.path("partitionValues").path("bucket").asText()
      assert(v.nonEmpty && p.contains(s"p=$v/"), s"add $p must carry its p= value, got bucket=$v")
    }

    // round trip: the partition column comes back from partitionValues
    // (the file copy is shadowed — dataSchema drops it), values identical
    val got = DeltaImport.read(spark, path).select(col("bucket"), col("x")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("a", 1), ("a", 2), ("b", 30)))

    // the 100 TB property: a filter on the partition column prunes the
    // non-matching partition's FILES out of the plan entirely (constant-
    // folded per-partition scans), not post-scan
    val plan = DeltaImport.read(spark, path).filter(col("bucket") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("p=a"), s"expected p=a files in the pruned plan:\n$plan")
    assert(!plan.contains("p=b"), s"p=b leaked into the pruned plan:\n$plan")

    // partitionValues survive a checkpoint seek (checkpointRows carries
    // them): the "a" files enter the replay ONLY via the checkpoint after
    // the JSONs it covers are vacuumed — their partition tuple must too
    VersionedTable.commitDelta(spark, path, Seq(("c", 99)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 31)).toDF("bucket", "x"), "bucket")
    DeltaExport.export(spark, path, checkpointEvery = 2, partitioned = true)
    (0L to 2L).foreach(v => assert(new java.io.File(s"$path/_delta_log/" + f"$v%020d.json").delete()))
    val afterCkpt = DeltaImport.read(spark, path).select(col("bucket"), col("x")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(afterCkpt == Set(("a", 1), ("a", 2), ("b", 31), ("c", 99)))
    val prunedPlan = DeltaImport.read(spark, path).filter(col("bucket") === "a")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("p=a") && !prunedPlan.contains("p=b"),
      s"checkpoint-seeded read must still prune on partitionValues:\n$prunedPlan")
  }

  test("vacuumed history is skipped, never exported as a partial file set") {
    val path = java.nio.file.Files.createTempDirectory("graft-dexp-v").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 2)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 20)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 10)).toDF("bucket", "x"), "bucket")
    // commit 2's JSON survives vacuum (its dir carries forward) but its
    // manifest references the reclaimed v=1 — it must not export
    VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    val entries = DeltaExport.buildLog(spark, path)
    assert(entries.map(_.sourceVersion) == Seq(3L))
    val viaDelta = spark.read.parquet(
      replayLiveFiles(entries).toSeq.sorted.map(p => s"$path/$p"): _*)
    assert(viaDelta.select(col("bucket"), col("x")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet ==
      VersionedTable.read(spark, path).select(col("bucket"), col("x")).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet)
  }
}
