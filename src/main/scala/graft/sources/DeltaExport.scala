package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.Json

/** Export a [[VersionedTable]] commit history as a Delta Lake transaction
  * log (`_delta_log/NNNNNNNNNNNNNNNNNNNN.json`), making the engine's
  * stand-in table format explicitly convertible to the open format the
  * reference deploys on (Delta `saveAsTable`, great_expectations.py:337-338
  * / BASELINE "Spark + Delta/Iceberg over S3").
  *
  * Mapping (see INTEROP.md for the full design note):
  *
  *  - committed version N (ascending) -> log entry i (0-based, gap-free).
  *    Versions are gap-free (1..n) too; they are renumbered only because
  *    history that vacuum has made unservable is skipped
  *  - entry 0 additionally carries `protocol` + `metaData` actions;
  *    `metaData.schemaString` IS the manifest's `schema` field verbatim —
  *    both formats serialize Spark's `StructType.json`
  *  - a schema-changing commit emits a fresh `metaData` action (Delta's
  *    schema-evolution story)
  *  - each commit emits `add` actions for every parquet file in the
  *    version dirs it NEWLY references, and `remove` actions for files it
  *    no longer references vs its parent: exactly the rewritten/cleared
  *    partitions swap (the carried-forward partitions' files stay live
  *    without re-adding — Delta state is cumulative, same as the
  *    manifest's by-reference carry-forward)
  *  - by default `partitionValues` is `{}`: the engine keeps the partition
  *    column IN the data files (the `p=` layout is pure path convention),
  *    so the exported table is an unpartitioned Delta table whose files
  *    happen to live under partition-shaped paths — every reader sees the
  *    column as data, no reconstruction-from-path needed
  *  - `partitioned = true` instead DECLARES the manifest's
  *    partition_column in `metaData.partitionColumns` and stamps each
  *    add's `partitionValues` from its `p=` path segment, so Delta-side
  *    readers prune partitions at plan time (the reference's daily stage
  *    cadence, ingestion.py:247). Still metadata-only: the column stays
  *    in the data files, which spec-compliant readers never request —
  *    partition columns are projected from partitionValues, and
  *    [[DeltaImport]]'s dataSchema drops them the same way.
  *
  * The export is metadata-only: data files are NOT copied, the log's
  * `add.path`s are relative to the table root (exactly Delta's contract),
  * so writing `_delta_log/` INTO the table root yields a readable Delta
  * table in place once a delta-spark jar is on the classpath.
  */
object DeltaExport {

  /** One exported commit: Delta log line strings, in action order. */
  final case class LogEntry(deltaVersion: Long, sourceVersion: Long, actions: Seq[String])

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rewrite a manifest schema into its column-mapped logical twin:
    * every field (any nesting depth, through arrays and maps) gains
    * `delta.columnMapping.id` + `delta.columnMapping.physicalName`
    * metadata, and TOP-LEVEL fields named in `renames` present their
    * logical name while the physicalName keeps pointing at the column
    * the parquet files actually store — Delta's own metadata-only
    * RENAME COLUMN shape, which [[DeltaImport]] (and delta-spark)
    * resolve back to the physical columns at scan time. `ids` is the
    * log-lifetime allocator: a field keeps its id across every
    * metaData action (the column-mapping spec's stability rule);
    * fields appearing in later schema-evolution commits extend it.
    */
  private def mappedStruct(
      st: StructType,
      renames: Map[String, String],
      ids: scala.collection.mutable.LinkedHashMap[String, Int],
      prefix: String
  ): StructType = {
    def mapType(dt: DataType, key: String): DataType = dt match {
      case s: StructType => mappedStruct(s, renames, ids, key)
      case ArrayType(e, n) => ArrayType(mapType(e, s"$key.element"), n)
      case MapType(k, v, n) => MapType(mapType(k, s"$key.key"), mapType(v, s"$key.value"), n)
      case other => other
    }
    StructType(st.fields.map { f =>
      val phys = f.name
      val key = if (prefix.isEmpty) phys else s"$prefix.$phys"
      val id = ids.getOrElseUpdate(key, ids.size + 1)
      val logical = if (prefix.isEmpty) renames.getOrElse(phys, phys) else phys
      val md = new MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", id.toLong)
        .putString("delta.columnMapping.physicalName", phys)
        .build()
      StructField(logical, mapType(f.dataType, key), f.nullable, md)
    })
  }

  /** Build the Delta log entries for every committed version, oldest first.
    * Pure metadata transform — no data is read or moved.
    *
    * `renames` (physical -> logical, top-level columns) and
    * `columnMapping` turn on name-mode column mapping in the exported
    * metadata: protocol rises to (2, 5), `configuration` carries
    * `delta.columnMapping.mode=name` + `maxColumnId`, and every
    * schemaString field gets its id/physicalName pair. A rename is
    * therefore exported without touching a single data file, and
    * survives import-after-export because readers resolve columns by
    * physicalName, not by the logical label.
    */
  def buildLog(
      spark: SparkSession,
      path: String,
      renames: Map[String, String] = Map.empty,
      columnMapping: Boolean = false,
      partitioned: Boolean = false
  ): Seq[LogEntry] = {
    val mapColumns = columnMapping || renames.nonEmpty
    // vacuumed-history guard: a commit whose referenced dirs were vacuumed
    // (its own JSON surviving via a newer manifest's carry-forward) would
    // export as a PARTIAL file set — files flickering out of and back into
    // the log. Export only fully-servable versions; the newest must be one.
    val snaps = VersionedTable.servableSnapshots(spark, path)
    if (renames.nonEmpty) {
      val newest = snaps.last.schema.fieldNames.toSet
      val missing = renames.keySet -- newest
      require(missing.isEmpty,
        s"renames name columns absent from the newest schema of $path: ${missing.toSeq.sorted.mkString(", ")}")
      // the post-rename LOGICAL name set must stay collision-free — a
      // target equal to an unrenamed column (or two keys sharing one
      // target) would export a schemaString with duplicate logical names:
      // a corrupt table importers reject later and less legibly
      val logical = newest.toSeq.map(c => renames.getOrElse(c, c))
      val dups = logical.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      require(dups.isEmpty,
        s"renames collide: logical column name(s) ${dups.toSeq.sorted.mkString(", ")} would appear more than once in the exported schema of $path")
    }
    // PARTITIONED export (INTEROP "declared partitionColumns" mode): the
    // manifest's partition_column becomes Delta's metaData.partitionColumns
    // (logical name) and every add carries partitionValues parsed from the
    // p= layout — so Delta-side readers prune partitions at plan time.
    // Still metadata-only: the engine keeps the column IN the data files,
    // which is harmless to spec-compliant readers — they project the
    // partition column from partitionValues, never requesting it from the
    // parquet files (DeltaImport's dataSchema drops it the same way).
    val partCol: Option[String] =
      if (!partitioned) None
      else {
        val cols = snaps.map { s =>
          s.partitionColumn.getOrElse(throw new IllegalArgumentException(
            s"partitioned export: version ${s.version} of $path records no partition_column"))
        }.distinct
        require(cols.size == 1,
          s"partitioned export: $path changes partition column across commits (${cols.mkString(", ")}) — Delta metadata cannot represent that")
        require(cols.head.nonEmpty, s"partitioned export: $path records an empty partition_column")
        Some(cols.head)
      }
    // partitionColumns entries are LOGICAL names (they key the logical
    // schema); partitionValues keys stay PHYSICAL per the column-mapping
    // protocol — identical strings when no rename touches the column
    val partColsJson = partCol
      .map(c => s"[${Json.str(renames.getOrElse(c, c))}]")
      .getOrElse("[]")
    def partValuesJson(part: String): String = partCol.fold("{}")(c => s"{${Json.str(c)}:${Json.str(part)}}")
    val tableId = java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8")).toString
    val colIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var prevFiles = Map.empty[String, (Long, Long, String)]
    var prevSchema: Option[String] = None
    var prevMarkers = Map.empty[String, String]
    snaps.zipWithIndex.map { case (snap, i) =>
      val v = snap.version
      val files = VersionedTable.dataFiles(spark, snap).map { case (p, part, st) =>
        p -> (st.getLen, st.getModificationTime, part)
      }.toMap
      val schema = snap.schemaJson
      val now = System.currentTimeMillis()
      val (schemaOut, configJson) =
        if (!mapColumns) (schema, "{}")
        else {
          val mapped = DataType.fromJson(schema) match {
            case s: StructType => mappedStruct(s, renames, colIds, "").json
            case _ => schema
          }
          (mapped,
            s"""{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"${colIds.size}"}""")
        }
      val header = Seq(
        if (i == 0)
          // column mapping needs reader 2 / writer 5 per the Delta spec
          Some(if (mapColumns) """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
               else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        else None,
        if (i == 0 || !prevSchema.contains(schema))
          Some(
            s"""{"metaData":{"id":${Json.str(tableId)},"format":{"provider":"parquet","options":{}},""" +
              s""""schemaString":${Json.str(schemaOut)},"partitionColumns":$partColsJson,"configuration":$configJson,"createdTime":$now}}"""
          )
        else None
      ).flatten
      // exactly-once stream markers -> Delta `txn` actions: a commit whose
      // marker value CHANGED vs its parent is the commit that applied that
      // stream batch, so Delta consumers get the same appId/version
      // idempotency contract VersionedTable's manifest lineage provides
      // (`stream_batch:<id>` -> appId `<id>`). Carried-forward (unchanged)
      // markers emit nothing — Delta txn state is cumulative.
      val markers = snap.fields("stream_batch")
      val txns = markers.toSeq
        .filter { case (k, value) => !prevMarkers.get(k).contains(value) }
        .filter(_._2.matches("-?\\d+")) // txn.version is a Delta long
        .sortBy(_._1)
        .map { case (k, value) =>
          s"""{"txn":{"appId":${Json.str(k.stripPrefix("stream_batch:"))},"version":$value,"lastUpdated":$now}}"""
        }
      val adds = (files.keySet -- prevFiles.keySet).toSeq.sorted.map { p =>
        val (sz, mt, part) = files(p)
        s"""{"add":{"path":${Json.str(p)},"partitionValues":${partValuesJson(part)},"size":$sz,"modificationTime":$mt,"dataChange":true}}"""
      }
      val removes = (prevFiles.keySet -- files.keySet).toSeq.sorted.map { p =>
        s"""{"remove":{"path":${Json.str(p)},"deletionTimestamp":$now,"dataChange":true}}"""
      }
      val info =
        s"""{"commitInfo":{"timestamp":$now,"operation":"WRITE","operationParameters":{},""" +
          s""""engineInfo":"graft VersionedTable export","sourceVersion":$v}}"""
      prevFiles = files
      prevSchema = Some(schema)
      prevMarkers = markers
      LogEntry(i.toLong, v, header ++ txns ++ adds ++ removes :+ info)
    }
  }

  /** Write the log under `<path>/_delta_log/` (or an alternate root for a
    * dry-run export). Returns the written entries.
    *
    * `checkpointEvery` mirrors Delta's `checkpointInterval` (default 10):
    * every log version divisible by it also gets a classic single-part
    * parquet checkpoint (`NNN.checkpoint.parquet`) of the RECONCILED state
    * at that version, and `_last_checkpoint` points at the newest one — so
    * an external reader of a long-exported log seeks to the checkpoint
    * instead of replaying every JSON, and JSON commits at-or-below the
    * checkpoint can be vacuumed without stranding readers. 0 disables.
    */
  def export(
      spark: SparkSession,
      path: String,
      logRoot: Option[String] = None,
      checkpointEvery: Int = 10,
      renames: Map[String, String] = Map.empty,
      columnMapping: Boolean = false,
      partitioned: Boolean = false
  ): Seq[LogEntry] = {
    val entries = buildLog(spark, path, renames, columnMapping, partitioned)
    val root = logRoot.getOrElse(path)
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/_delta_log"))
    entries.foreach { e =>
      val name = f"${e.deltaVersion}%020d.json"
      val out = f.create(new Path(s"$root/_delta_log/$name"), true)
      out.write((e.actions.mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
    }
    if (checkpointEvery > 0) {
      val ckptVersions = entries.map(_.deltaVersion)
        .filter(v => v > 0 && v % checkpointEvery == 0)
      ckptVersions.foreach(v => writeCheckpoint(spark, root, entries, v))
      ckptVersions.lastOption.foreach { v =>
        val n = checkpointRows(entries, v).length
        val out = f.create(new Path(s"$root/_delta_log/_last_checkpoint"), true)
        out.write(s"""{"version":$v,"size":$n}""".getBytes("UTF-8"))
        out.close()
      }
    }
    entries
  }

  /** The classic checkpoint action schema — one nullable struct column per
    * action kind, exactly the shape [[DeltaImport]]'s checkpoint parser
    * (and delta-spark's) reads. `remove` is always null in a checkpoint
    * (reconciled state has no live removes) but stays in the schema for
    * external-shape fidelity.
    */
  private[graft] val checkpointSchema: StructType = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType))))
  ))

  /** Reconcile the exported entries' OWN action JSON up to `at` into
    * checkpoint rows — replaying the emitted log (rather than recomputing
    * from the manifests) guarantees the checkpoint can never drift from
    * what the JSON commits say. Row order: protocol, metaData, txns,
    * adds (path-sorted) — deterministic.
    */
  private def checkpointRows(entries: Seq[LogEntry], at: Long): Seq[Row] = {
    val mapper = new ObjectMapper()
    var protocol: Option[Row] = None
    var metaData: Option[Row] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, (Map[String, String], Long, Long)]
    entries.filter(_.deltaVersion <= at).foreach { e =>
      e.actions.map(mapper.readTree).foreach { n =>
        if (n.has("protocol")) {
          val p = n.path("protocol")
          protocol = Some(Row(p.path("minReaderVersion").asInt(1), p.path("minWriterVersion").asInt(2)))
        }
        if (n.has("metaData")) {
          val m = n.path("metaData")
          // configuration must survive into the checkpoint: a reader
          // seeking past the JSON commits would otherwise lose
          // delta.columnMapping.mode and misread a mapped table
          val conf = m.path("configuration").fields().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
          metaData = Some(Row(
            m.path("id").asText(),
            Row(m.path("format").path("provider").asText("parquet"), Map.empty[String, String]),
            m.path("schemaString").asText(),
            m.path("partitionColumns").elements().asScala.map(_.asText()).toSeq,
            conf,
            m.path("createdTime").asLong()))
        }
        if (n.has("txn")) {
          val t = n.path("txn")
          txns(t.path("appId").asText()) = (t.path("version").asLong(), t.path("lastUpdated").asLong())
        }
        if (n.has("add")) {
          val a = n.path("add")
          // partitionValues must survive into the checkpoint — a reader
          // seeking past the JSON commits of a PARTITIONED export would
          // otherwise lose every file's partition tuple
          val pv = a.path("partitionValues").fields().asScala
            .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap
          adds(a.path("path").asText()) =
            (pv, a.path("size").asLong(), a.path("modificationTime").asLong())
        }
        if (n.has("remove")) adds -= n.path("remove").path("path").asText()
      }
    }
    val protoRow = protocol.map(p => Row(null, null, null, null, p)).toSeq
    val metaRow = metaData.map(m => Row(null, null, null, m, null)).toSeq
    val txnRows = txns.toSeq.sortBy(_._1).map { case (app, (v, ts)) =>
      Row(Row(app, v, ts), null, null, null, null)
    }
    val addRows = adds.toSeq.sortBy(_._1).map { case (p, (pv, sz, mt)) =>
      // dataChange=false: checkpoint adds re-state existing data, they are
      // not new writes (the Delta protocol's checkpoint contract)
      Row(null, Row(p, pv, sz, mt, false), null, null, null)
    }
    protoRow ++ metaRow ++ txnRows ++ addRows
  }

  /** Write `NNN.checkpoint.parquet` for the reconciled state at `at`. */
  private def writeCheckpoint(spark: SparkSession, root: String, entries: Seq[LogEntry], at: Long): Unit = {
    val rows = checkpointRows(entries, at)
    val df = spark.createDataFrame(rows.asJava, checkpointSchema)
    val f = fs(spark, root)
    val stage = new Path(s"$root/_delta_log/.ckpt-stage-$at")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = f.listStatus(stage).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one checkpoint part, got ${part.length}")
    val dest = new Path(s"$root/_delta_log/" + f"$at%020d.checkpoint.parquet")
    if (f.exists(dest)) f.delete(dest, false)
    require(f.rename(part.head.getPath, dest), s"failed to place checkpoint at $dest")
    f.delete(stage, true)
    ()
  }
}
