package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{ServiceConfig, SourceConfig, StagePath}
import graft.operators.{DeltaState, Flatten, Scd2, Transform}
import graft.sources.IO

/** End-to-end staged pipeline — the engine equivalent of the reference's
  * five processes (SURVEY.md §3.1), with the same stage boundaries
  * materialized as partitioned files (lineage + restartability parity):
  *
  *   raw (JSON docs) -> cleansing (flattened pipe-CSV)
  *                   -> partitioning (masked passthrough)
  *                   -> transformation (rules/explodes/filter/delta; main +
  *                      side outputs)
  *                   -> warehouse load (SCD-2 parquet)
  *
  * Each stage is one Spark job graph; within a stage the S3-object handoffs
  * of the reference become shuffle boundaries, between stages they stay
  * files. All writes are partitioned by the run date (year/month/day), so
  * downstream reads prune to one day — at 100 TB that's the difference
  * between scanning a day and scanning the lake.
  */
final case class PipelineRun(
    root: String,
    source: String,
    date: java.time.LocalDate,
    now: Column // injected clock (deterministic backfill: date+1s, F1)
) {
  def path(alias: String, stage: String, fmt: String): String =
    StagePath(root, source, alias, stage, fmt).forDate(date)
}

object Pipeline {

  /** Cleansing stage (cleansing.py:22-41): raw JSON documents -> fully
    * flattened relational pipe-CSV.
    */
  def cleanse(spark: SparkSession, run: PipelineRun, alias: String, listIndexBound: Int = 4): DataFrame = {
    val raw = IO.readJsonDocs(spark, run.path(alias, "raw", "json"))
    // blank-input short-circuit (P12). Inferred JSON with a field always
    // has a row, so only an empty inferred schema pays the isEmpty job
    if (raw.schema.isEmpty && raw.isEmpty) raw
    else {
      val flat = Flatten.flattenAll(raw, listIndexBound = listIndexBound)
      IO.writePipeCsv(flat, run.path(alias, "cleansing", "csv"))
      flat
    }
  }

  /** Partitioning stage (partitioning.py:81-136): raw -> partitioning copy
    * with PII masking-column drops.
    */
  def partitionStage(spark: SparkSession, run: PipelineRun, svc: ServiceConfig): DataFrame = {
    val raw = IO.readJsonDocs(spark, run.path(svc.alias, "raw", "json"))
    val masked = Transform.mask(raw, svc.maskingCols)
    IO.writeJson(masked, run.path(svc.alias, "partitioning", "json"))
    masked
  }

  /** Transformation stage (transformation.py:246-416): config-driven
    * projection, explode side-outputs, year filter, conversions, generic
    * spares + timestamp, stateful delta against the snapshot table. Returns
    * (main, side outputs) and persists all of them as pipe-CSV.
    */
  def transform(
      spark: SparkSession,
      run: PipelineRun,
      svc: ServiceConfig,
      snapshot: Option[DataFrame] = None,
      deltaCounters: Seq[(String, String)] = Nil,
      deltaKeys: Seq[String] = Nil,
      coalesceCurrent: Boolean = false,
      applyYearFilter: Boolean = false
  ): (DataFrame, Map[String, DataFrame]) = {
    val raw = IO.readJsonDocs(spark, run.path(svc.alias, "raw", "json"))
    val (projected, sides) = Transform.forService(raw, svc, applyYearFilter)
    val withDeltas = snapshot match {
      case Some(snap) if deltaCounters.nonEmpty =>
        DeltaState.applyDeltas(projected, snap, deltaKeys, deltaCounters, coalesceCurrent)
      case _ => projected
    }
    val main = Transform.addGenericAndTimestamp(Transform.floatColumnsToLong(withDeltas), run.now)
    IO.writePipeCsv(main, run.path(svc.alias, "transformation", "csv"))
    // side outputs get the same generic-spares + float->long treatment as
    // the main table (transformation.py:339-341, 363-365, 385-387)
    val treatedSides = sides.map { case (name, df) =>
      name -> Transform.addGenericAndTimestamp(Transform.floatColumnsToLong(df), run.now)
    }
    treatedSides.foreach { case (name, df) => IO.writePipeCsv(df, run.path(name, "transformation", "csv")) }
    (main, treatedSides)
  }

  /** Warehouse-side drift check of the SCD-2 loader: the staged batch's
    * columns vs the existing warehouse payload columns (SCD-2 bookkeeping
    * excluded). The load itself absorbs drift (unionByName null-padding /
    * reads under the commit log's folded schema); this surfaces the diff
    * to `notifier` so it is observed, not just absorbed — the reference's
    * `Completedwitherrors` notification (ingestion.py:99-122).
    */
  private[graft] def emitWarehouseDrift(
      spark: SparkSession,
      warehousePath: String,
      staged: DataFrame,
      notifier: graft.core.Drift.Notifier
  ): Unit = {
    import graft.sources.VersionedTable
    VersionedTable.latestSnapshot(spark, warehousePath).foreach { snap =>
      val bookkeeping = Set("actv_flg", "record_to", "key_bucket")
      // column names come from the commit manifests' schema JSON — commit-
      // count-sized driver work, no parquet footer read across the
      // warehouse. A delta commit records only its TOUCHED partitions'
      // schema, so fold the schemas of the commits still CONTRIBUTING live
      // partitions at the latest version (partition map values + latest) —
      // not over ALL surviving manifests: a column present only in
      // superseded history would otherwise count as 'existing' forever,
      // its removal never reported and its re-introduction silently
      // suppressed as an added-column event
      val contributing = (snap.partitions.values.toSeq :+ snap.version).distinct.sorted
      val existing = VersionedTable.foldSchemas(spark, snap, contributing).fieldNames.toSeq.filterNot(bookkeeping)
      val incoming = staged.columns.toSeq
      graft.core.Drift.emit(
        notifier,
        warehousePath,
        newColumns = incoming.filterNot(existing.contains),
        missingColumns = existing.filterNot(incoming.contains)
      )
    }
  }

  /** Loading stage (loading.py:25-133 shape): staged pipe-CSV -> SCD-2
    * upsert committed as a new version of a [[graft.sources.VersionedTable]]
    * — readers keep a consistent view mid-load, each run is time-travelable,
    * and rollback = read the previous version. Only the key-bucket
    * partitions touched by this batch are rewritten; the rest carry forward
    * by manifest reference, so a daily load costs its batch, not a copy of
    * the table. Staging "truncate" is the overwrite of the staged file on
    * the next run.
    */
  def loadPartitioned(
      spark: SparkSession,
      run: PipelineRun,
      alias: String,
      warehousePath: String,
      keyCols: Seq[String],
      nBuckets: Int = 64,
      notifier: graft.core.Drift.Notifier = graft.core.Drift.noop
  ): DataFrame = {
    import graft.sources.VersionedTable
    val staged = IO.readPipeCsv(spark, run.path(alias, "transformation", "csv"))
    emitWarehouseDrift(spark, warehousePath, staged, notifier)
    Scd2.upsertPartitioned(spark, warehousePath, staged, keyCols, nBuckets, run.now)
    VersionedTable.read(spark, warehousePath)
  }

  /** Full-refresh loader (O-FULL, loading.py:1937-1956). */
  def loadFullRefresh(spark: SparkSession, run: PipelineRun, alias: String, warehousePath: String): Unit = {
    val staged = IO.readPipeCsv(spark, run.path(alias, "transformation", "csv"))
    Scd2.fullRefresh(staged, warehousePath)
  }
}
