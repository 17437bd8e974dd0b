package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergExport, IcebergImport, VersionedTable}

/** Export half of the Iceberg interop story: the emitted metadata tree must
  * be exactly what IcebergImport (and, by spec-conformance, an
  * iceberg-enabled reader) resolves — snapshots, manifests, schema ids,
  * ADDED/EXISTING lineage, and real record counts.
  */
class IcebergExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int)] =
    df.select(col("bucket"), col("x")).collect().map(r => (r.getString(0), r.getInt(1))).toSet

  test("round-trip: whole-table rewrites export and import at every version") {
    val path = Files.createTempDirectory("graft-iexp").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 2)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 20), ("c", 3)).toDF("bucket", "x"), "bucket")
    val snaps = IcebergExport.export(spark, path)
    assert(snaps.map(_.snapshotId) == Seq(1L, 2L))
    assert(snaps.map(_.sequenceNumber) == Seq(1L, 2L))
    // each commit rewrites every partition: everything ADDED each time
    assert(snaps.forall(_.existingFiles.isEmpty))

    assert(rows(IcebergImport.read(spark, path)) == rows(VersionedTable.read(spark, path)))
    assert(rows(IcebergImport.read(spark, path, snapshotAsOf = Some(1L))) ==
      rows(VersionedTable.read(spark, path, Some(1L))))
  }

  test("delta-committed table: carried-forward partitions export as EXISTING entries") {
    val path = Files.createTempDirectory("graft-iexp-d").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 2)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 20)).toDF("bucket", "x"), "bucket")
    val snaps = IcebergExport.export(spark, path)
    // snapshot 2 rewrites bucket b and carries bucket a forward by reference
    assert(snaps(1).addedFiles.forall(_.contains("p=b")))
    assert(snaps(1).existingFiles.nonEmpty)
    assert(snaps(1).existingFiles.forall(_.contains("p=a")))

    assert(rows(IcebergImport.read(spark, path)) == rows(VersionedTable.read(spark, path)))
    assert(rows(IcebergImport.read(spark, path, snapshotAsOf = Some(1L))) ==
      rows(VersionedTable.read(spark, path, Some(1L))))
  }

  test("delta-committed table exports an identity partition spec: manifest-level pruning works") {
    val path = Files.createTempDirectory("graft-iexp-p").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 2), ("c", 3)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 20)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path)
    // the manifest carries the typed partition tuple per file...
    val st = IcebergImport.state(spark, path)
    assert(st.liveFiles.nonEmpty)
    assert(st.liveFiles.forall { case (_, pv) => pv.keySet == Set("bucket") })
    // ...so the import side prunes FILES from the manifest alone
    val pruned = IcebergImport.read(spark, path, partitionFilter = Map("bucket" -> "a"))
    assert(rows(pruned) == Set(("a", 1)))
    assert(pruned.inputFiles.length == 1, "expected exactly the one p=a file to be opened")
    assert(rows(IcebergImport.read(spark, path)) == rows(VersionedTable.read(spark, path)))
  }

  test("non-identity export: truncate[1] spec stores derived tuples; source-value filter prunes exactly") {
    val path = Files.createTempDirectory("graft-iexp-tr").toString + "/t"
    // raw partition values "aa","ab","bz": truncate[1] derives "a","a","b"
    VersionedTable.commitDelta(spark, path,
      Seq(("aa", 1), ("ab", 2), ("bz", 3)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path, partitionTransform = Some("truncate[1]"))
    val st = IcebergImport.state(spark, path)
    assert(st.identityFields.isEmpty)
    assert(st.partitionFields ==
      Seq(IcebergImport.PartitionField("bucket_trunc", "truncate[1]", "bucket")))
    // manifest tuples carry the DERIVED values
    assert(st.liveFiles.map(_._2("bucket_trunc")).toSet == Set("a", "b"))
    // filter by SOURCE value: both files deriving "a" stay (conservative —
    // the row filter composes), the "b" file is never opened
    val prunedA = IcebergImport.read(spark, path, partitionFilter = Map("bucket" -> "aa"))
    assert(prunedA.inputFiles.length == 2)
    assert(rows(prunedA.filter(col("bucket") === "aa")) == Set(("aa", 1)))
    val prunedB = IcebergImport.read(spark, path, partitionFilter = Map("bucket" -> "bz"))
    assert(prunedB.inputFiles.length == 1)
    assert(rows(prunedB) == Set(("bz", 3)))
    assert(rows(IcebergImport.read(spark, path)) == rows(VersionedTable.read(spark, path)))
  }

  test("non-identity export: bucket[8] spec round-trips and prunes via hash replay") {
    val path = Files.createTempDirectory("graft-iexp-bk").toString + "/t"
    VersionedTable.commitDelta(spark, path,
      Seq(("k1", 1), ("k2", 2), ("k3", 3), ("k4", 4)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path, partitionTransform = Some("bucket[8]"))
    val st = IcebergImport.state(spark, path)
    assert(st.partitionFields.map(_.transform) == Seq("bucket[8]"))
    // every key's file prunes to exactly the files sharing its hash bucket
    Seq("k1", "k2", "k3", "k4").foreach { k =>
      val want = graft.sources.IcebergTransforms.derive(
        "bucket[8]", org.apache.spark.sql.types.StringType, k)
      val sameBucket = st.liveFiles.count(_._2("bucket_bucket") == want)
      val pruned = IcebergImport.read(spark, path, partitionFilter = Map("bucket" -> k))
      assert(pruned.inputFiles.length == sameBucket)
      assert(rows(pruned.filter(col("bucket") === k)) == rows(
        VersionedTable.read(spark, path).filter(col("bucket") === k)))
    }
  }

  test("schema widening: old snapshots' files null-pad under the current schema") {
    val path = Files.createTempDirectory("graft-iexp-s").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path,
      Seq(("b", 2, "new")).toDF("bucket", "x", "extra"), "bucket")
    IcebergExport.export(spark, path)
    val got = IcebergImport.read(spark, path)
      .select(col("bucket"), col("x"), col("extra"))
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(got == Set(("a", 1, None), ("b", 2, Some("new"))))
    // both schemas are registered with distinct ids; current is the wide one
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/metadata/v1.metadata.json")), "UTF-8")
    assert(meta.contains("\"schema-id\": 0") && meta.contains("\"schema-id\": 1"))
    assert(meta.contains("\"current-schema-id\": 1"))
  }

  test("rename across commits keeps stable field ids, within one export and across re-exports") {
    // mirrors DeltaExportSpec's column-mapping rename case: Iceberg
    // resolves columns BY ID, so the renamed field must keep the id its
    // predecessor held (positional depth-first assignment guarantees it
    // under the engine's append-only + rename evolution contract), and a
    // re-export must reproduce byte-identical schema JSON for the schemas
    // it re-emits — fresh-id drift would silently re-key every column
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def schemaIds(metaPath: String): Seq[Map[String, Int]] = {
      val meta = mapper.readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(metaPath)))
      import scala.jdk.CollectionConverters._
      meta.path("schemas").elements().asScala.toSeq.map { s =>
        s.path("fields").elements().asScala.map(f => f.path("name").asText() -> f.path("id").asInt()).toMap
      }
    }
    val path = Files.createTempDirectory("graft-iexp-rn").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 10)).toDF("bucket", "y"), "bucket") // x renamed to y
    VersionedTable.commitDelta(spark, path, Seq(("a", 10, "n")).toDF("bucket", "y", "z"), "bucket") // then append
    IcebergExport.export(spark, path)
    val ids1 = schemaIds(s"$path/metadata/v1.metadata.json")
    assert(ids1.size == 3)
    assert(ids1.forall(_("bucket") == 1), s"bucket must keep id 1 in every schema: $ids1")
    assert(ids1(0)("x") == 2 && ids1(1)("y") == 2 && ids1(2)("y") == 2,
      s"the renamed column must keep its predecessor's id: $ids1")
    assert(ids1(2)("z") == 3, s"appended column takes the next id: $ids1")

    // re-export after one more commit: the carried-over schemas' ids (and
    // JSON) must not move
    VersionedTable.commitDelta(spark, path, Seq(("b", 20, "m")).toDF("bucket", "y", "z"), "bucket")
    IcebergExport.export(spark, path)
    val ids2 = schemaIds(s"$path/metadata/v2.metadata.json")
    assert(ids2.take(3) == ids1, s"re-export drifted carried-over field ids:\nwas $ids1\nnow ${ids2.take(3)}")
    assert(rows(IcebergImport.read(spark, path).withColumnRenamed("y", "x")) == Set(("a", 10), ("b", 20)))
  }

  test("re-export after new commits bumps the metadata version; hint points at the newest") {
    val path = Files.createTempDirectory("graft-iexp-r").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path)
    // published snapshots' manifest files are immutable: a concurrent
    // reader following v1.metadata.json must never see a torn rewrite
    val m1 = java.nio.file.Paths.get(s"$path/metadata/manifest-1.avro")
    val ml1 = java.nio.file.Paths.get(s"$path/metadata/snap-1-manifest-list.avro")
    val before = (Files.getLastModifiedTime(m1), Files.getLastModifiedTime(ml1))
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("z", 9)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path)
    assert(
      (Files.getLastModifiedTime(m1), Files.getLastModifiedTime(ml1)) == before,
      "re-export rewrote a published snapshot's manifest files in place")
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/metadata/version-hint.text")), "UTF-8").trim
    assert(hint == "2")
    assert(rows(IcebergImport.read(spark, path)) == Set(("a", 1), ("z", 9)))
    // time travel through the re-exported tree still resolves snapshot 1
    assert(rows(IcebergImport.read(spark, path, snapshotAsOf = Some(1L))) == Set(("a", 1)))
  }

  test("exported metadata carries full location URIs — FileIO consumers get them verbatim") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    def avroRows(p: String): Seq[GenericRecord] = {
      val r = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))),
        new GenericDatumReader[GenericRecord]())
      try { val b = Vector.newBuilder[GenericRecord]; while (r.hasNext) b += r.next(); b.result() }
      finally r.close()
    }
    val path = Files.createTempDirectory("graft-iexp-uri").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/metadata/v1.metadata.json")), "UTF-8")
    // the spec requires location URIs, not table-root-relative strings: an
    // external reader passes each straight to FileIO
    assert(meta.contains("\"manifest-list\": \"file:"), "manifest-list must be a full URI")
    assert(meta.contains("\"location\": \"file:"), "table location must be a full URI")
    val mlRows = avroRows(s"$path/metadata/snap-1-manifest-list.avro")
    assert(mlRows.nonEmpty && mlRows.forall(_.get("manifest_path").toString.startsWith("file:")))
    val dataPaths = avroRows(s"$path/metadata/manifest-1.avro")
      .map(_.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)
    assert(dataPaths.nonEmpty && dataPaths.forall(_.startsWith("file:")))
    // and the import side resolves the single-slash scheme form
    assert(rows(IcebergImport.read(spark, path)) == Set(("a", 1)))
  }

  test("time travel by timestamp resolves the newest snapshot at-or-before") {
    val path = Files.createTempDirectory("graft-iexp-ts").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1)).toDF("bucket", "x"), "bucket")
    Thread.sleep(10) // distinct committed_at millis for the two snapshots
    VersionedTable.commitDelta(spark, path, Seq(("b", 2)).toDF("bucket", "x"), "bucket", clearedParts = Seq("a"))
    IcebergExport.export(spark, path)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$path/metadata/v1.metadata.json")))
    val ts = scala.jdk.CollectionConverters.IteratorHasAsScala(meta.path("snapshots").elements())
      .asScala.map(s => s.path("snapshot-id").asLong() -> s.path("timestamp-ms").asLong()).toMap
    assert(ts(1L) < ts(2L))
    // at snapshot 1's instant: snapshot 1; just before 2's: still 1; at 2's: 2
    assert(rows(IcebergImport.read(spark, path, asOfTimestampMs = Some(ts(1L)))) == Set(("a", 1)))
    assert(rows(IcebergImport.read(spark, path, asOfTimestampMs = Some(ts(2L) - 1))) == Set(("a", 1)))
    assert(rows(IcebergImport.read(spark, path, asOfTimestampMs = Some(ts(2L)))) == Set(("b", 2)))
    // before the oldest snapshot: explicit error, not an empty read
    val e = intercept[IllegalArgumentException](
      IcebergImport.read(spark, path, asOfTimestampMs = Some(ts(1L) - 1)))
    assert(e.getMessage.contains("no snapshot at or before"))
  }

  test("randomized commit sequences round-trip through export+import at every snapshot") {
    // shared semantics model (TableFixtures, same as the Delta property):
    // after export, the Iceberg read must match the manifest read at EVERY
    // snapshot, and per-bucket partitionFilter reads must match the
    // bucket's slice while opening only that bucket's files
    for (trial <- 0 until 3) {
      val path = Files.createTempDirectory(s"graft-iexp-prop$trial").toString + "/t"
      val expectedAt = TableFixtures.randomCommitSequence(spark, path, seed = 20260813L + trial)
      IcebergExport.export(spark, path)
      import TableFixtures.got
      assert(got(IcebergImport.read(spark, path)) == expectedAt.last._2, s"trial $trial newest")
      expectedAt.foreach { case (v, exp) =>
        assert(got(IcebergImport.read(spark, path, snapshotAsOf = Some(v))) == exp,
          s"trial $trial snapshot $v")
      }
      // partition pruning against the final state, bucket by bucket
      val finalState = expectedAt.last._2
      val finalFiles = IcebergImport.state(spark, path).liveFiles
      finalState.map(_._1).foreach { b =>
        val pr = IcebergImport.read(spark, path, partitionFilter = Map("bucket" -> b))
        assert(got(pr) == finalState.filter(_._1 == b), s"trial $trial bucket $b")
        val expectFiles = finalFiles.count(_._2.get("bucket").contains(b))
        assert(pr.inputFiles.length == expectFiles, s"trial $trial bucket $b pruning")
      }
    }
  }

  test("vacuumed history is skipped, never exported as a partial snapshot") {
    val path = Files.createTempDirectory("graft-iexp-v").toString + "/t"
    VersionedTable.commitDelta(spark, path, Seq(("a", 1), ("b", 2)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("b", 20)).toDF("bucket", "x"), "bucket")
    VersionedTable.commitDelta(spark, path, Seq(("a", 10)).toDF("bucket", "x"), "bucket")
    // retain only the newest manifest: v=1 is unreferenced and reclaimed,
    // but commit 2's JSON survives (its own dir is carried forward) while
    // referencing the now-deleted v=1 for bucket a — non-servable history
    VersionedTable.vacuum(spark, path, retainVersions = 1, orphanGraceMs = 0)
    val snaps = IcebergExport.export(spark, path)
    assert(snaps.map(_.snapshotId) == Seq(3L), "only the fully-servable version may export")
    assert(rows(IcebergImport.read(spark, path)) == rows(VersionedTable.read(spark, path)))
  }

  test("manifests carry real record counts and spec-shaped lineage fields") {
    val path = Files.createTempDirectory("graft-iexp-m").toString + "/t"
    VersionedTable.commitDelta(spark, path, (1 to 57).map(i => (s"k$i", i)).toDF("bucket", "x"), "bucket")
    IcebergExport.export(spark, path)
    // read the manifest back through the import side's own avro walk: the
    // one manifest-list row must account for all 57 rows as ADDED
    val st = IcebergImport.state(spark, path)
    assert(st.snapshotId == 1L)
    val total = st.liveFiles.map { case (p, _) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    assert(total == 57L)
    assert(IcebergImport.read(spark, path).count() == 57L)
  }
}
