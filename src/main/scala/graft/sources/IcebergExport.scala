package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.core.Json

/** Export a [[VersionedTable]] commit history as an Apache Iceberg table
  * (format-version 2 metadata tree), completing the two-way interop story
  * beside [[DeltaExport]]/[[DeltaImport]]/[[IcebergImport]] (INTEROP.md;
  * reference deploys on "Spark + Delta/Iceberg over S3", BASELINE.md).
  *
  * Like the Delta export this is METADATA-ONLY: data files are referenced
  * in place (full location URIs, as the spec requires), nothing is copied. The
  * output is the exact tree [[IcebergImport]] consumes — and follows the
  * public Iceberg table spec (format v2) so an iceberg-enabled reader
  * pointed at the root resolves it as a HadoopTables-layout table:
  *
  *  - committed version N -> snapshot with `snapshot-id` = N (Iceberg
  *    snapshot ids are arbitrary longs, so the source version number
  *    survives visibly), `sequence-number` = 1-based commit order
  *    (gap-free, as the spec requires monotonic sequence numbers)
  *  - each snapshot gets ONE manifest listing every data file live at that
  *    version: files first referenced by this snapshot are ADDED (status
  *    1), carried-forward files are EXISTING (status 0) and keep the
  *    snapshot id + sequence number of the snapshot that added them —
  *    Iceberg's own rewrite-manifest shape
  *  - `schemas` carries every distinct schema in commit order with
  *    field-ids assigned depth-first (spec rule: every field has a unique
  *    id; `last-column-id` is the max assigned); snapshots that predate a
  *    widening read correctly under the current schema (Iceberg resolves
  *    columns by id, absent ids read as null — same null-padding the
  *    manifest read performs)
  *  - delta-committed tables whose manifests record their partition column
  *    export with an IDENTITY partition spec: manifest tuples carry the
  *    typed partition value (the data files retain the source column, as
  *    Iceberg's identity transform expects), so [[IcebergImport]]'s
  *    `partitionFilter` — or any Iceberg planner — prunes FILES from the
  *    manifest alone. Pre-field commits and partition columns of types
  *    the spec cannot express export unpartitioned
  *  - `record_count`/`file_size_in_bytes` are real (parquet footer /
  *    file-status reads, driver-side, metadata-sized): Iceberg planners
  *    budget scans from these, lying would mis-plan a consumer
  *
  * Re-export after new commits writes the next `vN.metadata.json` and
  * bumps `version-hint.text` — the HadoopTables metadata-versioning
  * protocol, so an already-exported table stays readable mid-re-export.
  */
object IcebergExport {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBytesLocal(f: FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  // ---------------------------------------------------------------- schema

  /** Spark -> Iceberg schema JSON with depth-first field-id assignment.
    * Returns (schema JSON, last assigned column id, top-level field -> id).
    * Ids are positional: the engine's evolution shapes are append-only
    * widening (unionByName null-padding) and in-place RENAME, under both
    * of which positional ids stay stable across schema versions — the
    * Iceberg id-resolution contract (a renamed field keeps its
    * predecessor's id; IcebergExportSpec pins this within one export and
    * across re-exports). Dropping or inserting a column mid-position is
    * outside the contract: it would re-key every later field.
    */
  private[graft] def icebergSchemaJson(schema: StructType, schemaId: Int): (String, Int, Map[String, Int]) = {
    var nextId = 0
    val topIds = scala.collection.mutable.Map.empty[String, Int]
    def id(): Int = { nextId += 1; nextId }
    def typ(dt: DataType): String = dt match {
      case BooleanType         => "\"boolean\""
      case IntegerType         => "\"int\""
      case ShortType | ByteType => "\"int\"" // Iceberg has no narrow ints
      case LongType            => "\"long\""
      case FloatType           => "\"float\""
      case DoubleType          => "\"double\""
      case DateType            => "\"date\""
      case TimestampNTZType    => "\"timestamp\""   // no zone
      case TimestampType       => "\"timestamptz\"" // instant
      case StringType          => "\"string\""
      case BinaryType          => "\"binary\""
      case d: DecimalType      => s""""decimal(${d.precision}, ${d.scale})""""
      case a: ArrayType =>
        s"""{"type": "list", "element-id": ${id()}, "element": ${typ(a.elementType)}, "element-required": ${!a.containsNull}}"""
      case m: MapType =>
        s"""{"type": "map", "key-id": ${id()}, "key": ${typ(m.keyType)}, "value-id": ${id()}, "value": ${typ(m.valueType)}, "value-required": ${!m.valueContainsNull}}"""
      case s: StructType =>
        val top = s eq schema
        val flds = s.fields.map { f =>
          val fid = id()
          if (top) topIds(f.name) = fid
          s"""{"id": $fid, "name": ${Json.str(f.name)}, "required": ${!f.nullable}, "type": ${typ(f.dataType)}}"""
        }
        s"""{"type": "struct", "fields": [${flds.mkString(", ")}]}"""
      case other => throw new IllegalArgumentException(s"unsupported Spark type for Iceberg export: $other")
    }
    val structJson = typ(schema) // assigns ids depth-first from 1
    // splice the schema-id into the top-level struct object
    val json = structJson.replaceFirst("""\{"type": "struct"""", s"""{"type": "struct", "schema-id": $schemaId""")
    (json, nextId, topIds.toMap)
  }

  // ------------------------------------------------------------- avro shapes

  // Field ids follow the Iceberg spec's manifest/manifest-list tables;
  // optional stats columns are omitted (permitted — readers treat absent
  // stats as unknown). `r102` is the partition tuple: one identity field
  // (field-id 1000) for partitioned delta tables, empty for unpartitioned.
  private def manifestEntrySchema(partField: Option[(String, String)]): Schema = {
    val pf = partField.map { case (n, avroType) =>
      s"""{"name": ${Json.str(n)}, "type": ["null", "$avroType"], "default": null, "field-id": 1000}"""
    }.getOrElse("")
    val dataFileSchemaJson =
      s"""{"type": "record", "name": "r2", "fields": [
         |  {"name": "content", "type": "int", "field-id": 134},
         |  {"name": "file_path", "type": "string", "field-id": 100},
         |  {"name": "file_format", "type": "string", "field-id": 101},
         |  {"name": "partition", "type": {"type": "record", "name": "r102", "fields": [$pf]}, "field-id": 102},
         |  {"name": "record_count", "type": "long", "field-id": 103},
         |  {"name": "file_size_in_bytes", "type": "long", "field-id": 104}
         |]}""".stripMargin
    new Schema.Parser().parse(
      s"""{"type": "record", "name": "manifest_entry", "fields": [
         |  {"name": "status", "type": "int", "field-id": 0},
         |  {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
         |  {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
         |  {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
         |  {"name": "data_file", "type": $dataFileSchemaJson, "field-id": 2}
         |]}""".stripMargin)
  }

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type": "record", "name": "manifest_file", "fields": [
      |  {"name": "manifest_path", "type": "string", "field-id": 500},
      |  {"name": "manifest_length", "type": "long", "field-id": 501},
      |  {"name": "partition_spec_id", "type": "int", "field-id": 502},
      |  {"name": "content", "type": "int", "field-id": 517},
      |  {"name": "sequence_number", "type": "long", "field-id": 515},
      |  {"name": "min_sequence_number", "type": "long", "field-id": 516},
      |  {"name": "added_snapshot_id", "type": "long", "field-id": 503},
      |  {"name": "added_files_count", "type": "int", "field-id": 504},
      |  {"name": "existing_files_count", "type": "int", "field-id": 505},
      |  {"name": "deleted_files_count", "type": "int", "field-id": 506},
      |  {"name": "added_rows_count", "type": "long", "field-id": 512},
      |  {"name": "existing_rows_count", "type": "long", "field-id": 513},
      |  {"name": "deleted_rows_count", "type": "long", "field-id": 514}
      |]}""".stripMargin)

  private def writeAvro(
      f: FileSystem,
      dest: String,
      schema: Schema,
      meta: Map[String, String],
      rows: Seq[GenericRecord]
  ): Long = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val out = f.create(new Path(dest), true)
    try {
      w.create(schema, out)
      rows.foreach(w.append)
      w.close() // flushes through to `out`
    } finally {
      try out.close() catch { case _: java.io.IOException => () } // already closed by w
    }
    f.getFileStatus(new Path(dest)).getLen
  }

  // ---------------------------------------------------------------- export

  /** One exported snapshot (for assertions/inspection). */
  final case class SnapshotEntry(
      snapshotId: Long,
      sequenceNumber: Long,
      addedFiles: Seq[String],
      existingFiles: Seq[String]
  )

  /** Per-file parquet row count, from the footer: driver-side, one footer
    * read per file — the same metadata Iceberg writers record at commit.
    */
  private def recordCount(spark: SparkSession, abs: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(abs), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Export every committed version of the VersionedTable at `path` as an
    * Iceberg snapshot; returns the snapshots oldest-first. Metadata lands
    * under `path/metadata/` (HadoopTables layout) unless `metadataRoot`
    * redirects it.
    *
    * `partitionTransform` declares the exported spec's transform over the
    * table's recorded partition column — `day`/`month`/`year`/`hour`,
    * `bucket[N]`, `truncate[W]`, default identity. The engine's layout
    * partitions by the RAW value, and any deterministic transform maps
    * each raw value to one derived value, so every file still has exactly
    * one partition tuple: the manifest stores the DERIVED value (hidden
    * partitioning, e.g. `days(ts)` over date-keyed loads) and Iceberg
    * planners — and [[IcebergImport.read]]'s `partitionFilter`, which
    * replays the transform — prune files from the manifest alone.
    */
  def export(
      spark: SparkSession,
      path: String,
      metadataRoot: Option[String] = None,
      partitionTransform: Option[String] = None
  ): Seq[SnapshotEntry] = {
    val f = fs(spark, path)
    val root = metadataRoot.getOrElse(path)
    val metaDir = s"$root/metadata"
    f.mkdirs(new Path(metaDir))
    // full location URIs, as the spec requires: external readers hand
    // file_path / manifest_path / manifest-list straight to FileIO, so
    // table-root-relative strings would only round-trip through graft's
    // own tolerant resolver
    def qualifyData(rel: String): String = f.makeQualified(new Path(s"$path/$rel")).toString
    def qualifyMeta(name: String): String = f.makeQualified(new Path(s"$metaDir/$name")).toString

    // snapshots already referenced by the PUBLISHED metadata (hint-last
    // protocol): their manifest files are immutable — rewriting them in
    // place would let a concurrent reader following the previous
    // vN.metadata.json see a torn Avro file. Orphans from a crashed export
    // are NOT published and are safely overwritten.
    val publishedSnapshots: Set[Long] = {
      val hint = new Path(metaDir, "version-hint.text")
      if (!f.exists(hint)) Set.empty
      else
        try {
          val v = new String(readBytesLocal(f, hint), "UTF-8").trim
          val mp = new Path(metaDir, s"v$v.metadata.json")
          if (!f.exists(mp)) Set.empty
          else {
            val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readBytesLocal(f, mp))
            import scala.jdk.CollectionConverters._
            meta.path("snapshots").elements().asScala.map(_.path("snapshot-id").asLong(-1L)).filter(_ >= 0).toSet
          }
        } catch { case _: Exception => Set.empty } // unreadable hint tree -> treat as unpublished
    }

    // only fully-servable versions export (vacuum can orphan an old commit's
    // JSON while deleting dirs it references — a partial snapshot would be
    // silent wrongness; same guard as DeltaExport.buildLog)
    val snaps = VersionedTable.servableSnapshots(spark, path)
    val versions = snaps.map(_.version)

    // distinct schemas in commit order -> schema-ids 0..k
    val commitSchemas: Seq[String] = snaps.map(_.schemaJson)
    val distinctSchemas = commitSchemas.distinct
    val schemaIdOf: Map[String, Int] = distinctSchemas.zipWithIndex.toMap
    val icebergSchemas = distinctSchemas.zipWithIndex.map { case (json, sid) =>
      icebergSchemaJson(DataType.fromJson(json).asInstanceOf[StructType], sid)
    }
    val lastColumnId = icebergSchemas.map(_._2).max

    // identity partition spec when every exported commit is delta-style on
    // ONE recorded partition column of a spec-expressible type: manifest
    // tuples then carry the typed value and IcebergImport's partitionFilter
    // (or any Iceberg planner) prunes FILES from the manifest alone. Tables
    // without the recorded column (pre-field commits or exotic types)
    // export unpartitioned — correct, just unpruned.
    val partColOpt: Option[String] = {
      val pcs = snaps.map(_.partitionColumn)
      if (pcs.nonEmpty && pcs.forall(_.isDefined) && pcs.flatten.distinct.size == 1) pcs.head else None
    }
    val currentSchema = DataType.fromJson(distinctSchemas.last).asInstanceOf[StructType]
    // (source column, identity avro type, source Spark type)
    val partSrc: Option[(String, String, DataType)] = partColOpt.flatMap { pc =>
      if (!pc.matches("[A-Za-z_][A-Za-z0-9_]*")) None // avro record field name rules
      else currentSchema.fields.find(_.name == pc).flatMap(f => f.dataType match {
        case StringType  => Some((pc, "string", f.dataType))
        case LongType    => Some((pc, "long", f.dataType))
        case IntegerType => Some((pc, "int", f.dataType))
        case _           => None
      })
    }
    val transform = partitionTransform.getOrElse("identity")
    require(
      IcebergTransforms.supported(transform),
      s"partitionTransform '$transform' not supported (identity, year, month, day, hour, bucket[N], truncate[W])"
    )
    require(
      transform == "identity" || partSrc.isDefined,
      s"partitionTransform '$transform' given, but the table has no spec-expressible partition column"
    )
    // tuple field: identity keeps the source name; hidden transforms get
    // Iceberg's conventional derived name (ts_day, id_bucket, ...)
    val partField: Option[(String, String)] = partSrc.map { case (pc, avroId, _) =>
      (IcebergTransforms.fieldName(transform, pc), IcebergTransforms.avroType(transform, avroId))
    }
    val entrySch = manifestEntrySchema(partField)
    def partValue(part: String): AnyRef = {
      val (_, _, srcType) = partSrc.get
      val derived = IcebergTransforms.derive(transform, srcType, part)
      partField.get._2 match {
        case "string" => derived
        case "long"   => java.lang.Long.valueOf(derived)
        case "int"    => java.lang.Integer.valueOf(derived)
      }
    }
    val specFieldsJson = partField.map { case (n, _) =>
      val topIds = icebergSchemas.last._3
      s"""[{"name": ${Json.str(n)}, "transform": ${Json.str(transform)}, "source-id": ${topIds(partSrc.get._1)}, "field-id": 1000}]"""
    }.getOrElse("[]")

    val added = scala.collection.mutable.Map.empty[String, (Long, Long)] // rel path -> (snapshotId, seq)
    val counts = scala.collection.mutable.Map.empty[String, Long]        // rel path -> record count
    val snapshots = snaps.zipWithIndex.map { case (snap, i) =>
      val v = snap.version
      val seq = i + 1L
      // files live at this version (relative path, size, partition value);
      // the first-referencing snapshot is tracked so carried-forward files
      // export as EXISTING
      val live = VersionedTable.dataFiles(spark, snap).map { case (rel, part, st) => (rel, st.getLen, part) }
      live.foreach { case (rel, _, _) =>
        if (!added.contains(rel)) {
          added(rel) = (v, seq)
          counts(rel) = recordCount(spark, s"$path/$rel")
        }
      }
      val (addedNow, existing) = live.partition { case (rel, _, _) => added(rel)._1 == v }

      // a snapshot already referenced by published metadata keeps its
      // manifest files byte-for-byte (immutability: concurrent readers of
      // the previous vN.metadata.json must never see a torn rewrite);
      // only unpublished (new or crashed-orphan) snapshots write
      if (!publishedSnapshots.contains(v)) {
        val entries = live.map { case (rel, size, part) =>
          val (sid, sseq) = added(rel)
          val df = new GenericData.Record(entrySch.getField("data_file").schema())
          df.put("content", 0)
          df.put("file_path", qualifyData(rel)) // full location URI per spec
          df.put("file_format", "PARQUET")
          val pr = new GenericData.Record(df.getSchema.getField("partition").schema())
          partField.foreach { case (n, _) => pr.put(n, partValue(part)) }
          df.put("partition", pr)
          df.put("record_count", counts(rel))
          df.put("file_size_in_bytes", size)
          val e = new GenericData.Record(entrySch)
          e.put("status", if (sid == v) 1 else 0) // 1=ADDED, 0=EXISTING
          e.put("snapshot_id", sid)
          e.put("sequence_number", sseq)
          e.put("file_sequence_number", sseq)
          e.put("data_file", df)
          e
        }
        val schemaJson = icebergSchemas(schemaIdOf(commitSchemas(i)))._1
        val manifestPath = s"$metaDir/manifest-$v.avro"
        val manifestLen = writeAvro(
          f, manifestPath, entrySch,
          Map(
            "schema" -> schemaJson,
            "partition-spec" -> specFieldsJson,
            "partition-spec-id" -> "0",
            "format-version" -> "2",
            "content" -> "data"
          ),
          entries
        )

        val ml = new GenericData.Record(manifestFileSchema)
        ml.put("manifest_path", qualifyMeta(s"manifest-$v.avro"))
        ml.put("manifest_length", manifestLen)
        ml.put("partition_spec_id", 0)
        ml.put("content", 0) // data manifest
        ml.put("sequence_number", seq)
        ml.put("min_sequence_number", live.map { case (rel, _, _) => added(rel)._2 }.minOption.getOrElse(seq))
        ml.put("added_snapshot_id", v)
        ml.put("added_files_count", addedNow.size)
        ml.put("existing_files_count", existing.size)
        ml.put("deleted_files_count", 0)
        ml.put("added_rows_count", addedNow.map { case (rel, _, _) => counts(rel) }.sum)
        ml.put("existing_rows_count", existing.map { case (rel, _, _) => counts(rel) }.sum)
        ml.put("deleted_rows_count", 0L)
        writeAvro(f, s"$metaDir/snap-$v-manifest-list.avro", manifestFileSchema, Map.empty, Seq(ml))
      }

      SnapshotEntry(v, seq, addedNow.map(_._1), existing.map(_._1))
    }

    // ------------------------------------------------------- metadata json
    val committedAt: Map[Long, Long] = snaps.map(s => s.version -> s.committedAt.getOrElse(0L)).toMap
    val snapJson = versions.zipWithIndex.map { case (v, i) =>
      val parent = if (i == 0) "" else s""""parent-snapshot-id": ${versions(i - 1)}, """
      s"""{"snapshot-id": $v, $parent"sequence-number": ${i + 1}, "timestamp-ms": ${committedAt(v)}, """ +
        s""""summary": {"operation": "append"}, "manifest-list": ${Json.str(qualifyMeta(s"snap-$v-manifest-list.avro"))}, """ +
        s""""schema-id": ${schemaIdOf(commitSchemas(i))}}"""
    }
    val snapLog = versions.map(v => s"""{"timestamp-ms": ${committedAt(v)}, "snapshot-id": $v}""")
    val current = versions.last
    val metaJson =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": ${Json.str(java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8")).toString)},
         |  "location": ${Json.str(f.makeQualified(new Path(root)).toString)},
         |  "last-sequence-number": ${versions.size},
         |  "last-updated-ms": ${committedAt(current)},
         |  "last-column-id": $lastColumnId,
         |  "current-schema-id": ${icebergSchemas.size - 1},
         |  "schemas": [${icebergSchemas.map(_._1).mkString(", ")}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": $specFieldsJson}],
         |  "last-partition-id": ${if (partField.isDefined) 1000 else 999},
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "properties": {},
         |  "current-snapshot-id": $current,
         |  "refs": {"main": {"snapshot-id": $current, "type": "branch"}},
         |  "snapshots": [${snapJson.mkString(", ")}],
         |  "snapshot-log": [${snapLog.mkString(", ")}],
         |  "metadata-log": []
         |}""".stripMargin

    // HadoopTables metadata versioning: next vN wins, hint updated last so
    // a concurrent reader never sees a hint pointing at a missing file
    val existingMeta = f.listStatus(new Path(metaDir)).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("v\\d+\\.metadata\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    val mv = (existingMeta :+ 0L).max + 1
    val mout = f.create(new Path(s"$metaDir/v$mv.metadata.json"), true)
    mout.write(metaJson.getBytes("UTF-8")); mout.close()
    val hout = f.create(new Path(s"$metaDir/version-hint.text"), true)
    hout.write(mv.toString.getBytes("UTF-8")); hout.close()

    snapshots
  }
}
