package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.VersionedTable

/** SCD Type-2 upsert, the reference's core load operator (O-SCD2).
  *
  * Reference semantics (loading.py:25-133, canonical `load_ad_unit`, repeated
  * x14): (1) close every currently-active target row whose business key
  * appears in the staging batch — `actv_flg='N'`, `record_to=now`; (2) insert
  * every batch row as a new active version (`actv_flg='Y'`, `record_to=null`);
  * (3) truncate staging.
  *
  * Spark formulation: one left join of the target against the distinct batch
  * keys, which flags the rows to close (the matched/unmatched split of a
  * MERGE, Delta Lake VLDB 2020), then a union with the inserted batch. No
  * MERGE engine needed; the whole thing is ONE scan of the target plus the
  * key join. At 100 TB the target should be stored partitioned (or
  * bucketed) by the business key's hash so the join co-locates; the batch
  * key set is typically tiny relative to the target and broadcast-joins
  * automatically.
  */
object Scd2 {

  /** Close-and-insert upsert on a single business key (J1 + O-SCD2).
    *
    * One pass over `target`: a left join against the distinct batch keys
    * flags each target row whose key the batch carries; a flagged row with
    * `actv_flg = 'Y'` closes (`actv_flg = 'N'`, `record_to = now`) and every
    * other row passes through unchanged. A NULL key never matches, so its
    * row passes through; a NULL or `'N'` flag is never closed; the
    * `distinct` keeps the join from duplicating target rows.
    *
    * @param target  current SCD-2 table (must contain keyCols, `actv_flg`,
    *                `record_to`)
    * @param batch   staging rows; must contain keyCols and the target's
    *                payload columns (minus actv_flg/record_to, which are set
    *                here)
    * @param keyCols business key column names
    * @param now     close/insert timestamp column (inject a literal for
    *                deterministic tests; reference stamps sysdate,
    *                loading.py:32-35)
    */
  def upsert(target: DataFrame, batch: DataFrame, keyCols: Seq[String], now: Column): DataFrame =
    closeAndInsert(target, flagHits(target, batch, keyCols, HitFlag), col(HitFlag), batch, now)

  /** Two-key close variant (J2): the reference closes `line_item_creative`
    * rows when `creative_id IN (batch creative ids) AND line_item_id IN
    * (batch line item ids)` — two INDEPENDENT in-lists, not a pair-wise key
    * (loading.py:934-938). This closes strictly more rows than pair matching;
    * the semantics are preserved faithfully here: one left join per key
    * list, each with its own flag, and an active row closes when both are
    * set — still one pass over `target`.
    */
  def upsertTwoKeyInLists(
      target: DataFrame,
      batch: DataFrame,
      key1: String,
      key2: String,
      now: Column
  ): DataFrame = {
    val flagged = flagHits(flagHits(target, batch, Seq(key1), s"${HitFlag}_1"), batch, Seq(key2), s"${HitFlag}_2")
    closeAndInsert(target, flagged, col(s"${HitFlag}_1") && col(s"${HitFlag}_2"), batch, now)
  }

  /** Reserved flag column of the upserts' key joins. */
  private val HitFlag = "__scd2_hit"

  /** `target` left-joined to the distinct batch values of `keyCols`, with
    * `flag` true where the row's key is in the batch and NULL elsewhere.
    */
  private def flagHits(target: DataFrame, batch: DataFrame, keyCols: Seq[String], flag: String): DataFrame =
    target.join(batch.select(keyCols.map(col): _*).distinct().withColumn(flag, lit(true)), keyCols, "left")

  /** Closes the active rows of `flagged` that `hit` selects, passes every
    * other row through in `target`'s column order, and appends the batch
    * as new active versions.
    */
  private def closeAndInsert(target: DataFrame, flagged: DataFrame, hit: Column, batch: DataFrame, now: Column): DataFrame = {
    val close = col("actv_flg") === "Y" && hit
    val kept = flagged.select(target.columns.toSeq.map {
      case "actv_flg"  => when(close, lit("N")).otherwise(col("actv_flg")).as("actv_flg")
      case "record_to" => when(close, now).otherwise(col("record_to")).as("record_to")
      case c           => col(s"`${c.replace("`", "``")}`") // names taken verbatim
    }: _*)
    val inserted = batch
      .withColumn("actv_flg", lit("Y"))
      .withColumn("record_to", lit(null).cast("timestamp"))
    // allowMissingColumns: schema drift between target and batch (a widened
    // batch against a pre-widening target, or the reverse after reading a
    // mix of old/new buckets) null-pads instead of throwing — the write-path
    // mirror of VersionedTable.read's schema fold
    kept.unionByName(inserted, allowMissingColumns = true)
  }

  /** Latest-version view: one row per key, the most recent by `insrt_ts`
    * (window dedup; deterministic tie-break on actv_flg desc so the open
    * version wins a timestamp tie).
    */
  def latestView(scd: DataFrame, keyCols: Seq[String], tsCol: String = "insrt_ts"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).desc, col("actv_flg").desc)
    scd.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** POINT-IN-TIME LOOKUP JOIN: for each probe row, the warehouse version
    * of its business key that was valid at the probe's timestamp —
    * time-travel as a join, the backbone of training-feature correctness
    * (no future leakage: a feature joined "as the warehouse knew it then").
    *
    * Validity contract: each version row carries `fromCol` (stamped by the
    * loader as batch payload) and the upsert-maintained `toCol` (null =
    * still open); a key's versions must not overlap, so at most one
    * version matches a probe. Probes whose key had NO valid version at
    * their timestamp (key not yet loaded, or probed inside a gap) drop out
    * — inner semantics, the caller outer-joins if absence matters.
    *
    * Scale shape: this is an ordinary EQUI-join on the business key with
    * the containment as a residual filter — no bin blocking needed
    * (contrast [[RangeJoin.binnedIntervalJoin]], which exists for KEYLESS
    * containment). One shuffle on the key; AQE handles key skew.
    */
  def pointInTimeLookup(
      warehouse: DataFrame,
      probes: DataFrame,
      keyCols: Seq[String],
      probeTsCol: String,
      fromCol: String = "record_from",
      toCol: String = "record_to"
  ): DataFrame =
    probes
      .join(warehouse, keyCols)
      .filter(
        col(probeTsCol) >= col(fromCol) &&
          (col(toCol).isNull || col(probeTsCol) < col(toCol)))

  /** O-FULL: full-refresh load (the `*_new` report loaders,
    * loading.py:1937-1956) — plain overwrite, no history.
    */
  def fullRefresh(batch: DataFrame, path: String): Unit =
    batch.write.mode("overwrite").parquet(path)

  /** Deterministic key-bucket for partition-scoped storage: a key's rows
    * (all its SCD-2 versions) always land in the same bucket, so an upsert
    * touches exactly the buckets its batch keys hash to.
    */
  def keyBucket(keyCols: Seq[String], nBuckets: Int): Column =
    pmod(
      graft.plans.HashExpressions.md5Prefix60(concat_ws("", keyCols.map(c => col(c).cast("string")): _*)),
      lit(nBuckets.toLong)
    )

  /** Partition-scoped SCD-2 load against a delta-committed
    * [[graft.sources.VersionedTable]]: reads ONLY the key-bucket partitions
    * the batch touches, upserts within them, and commits just those
    * partitions — untouched partitions carry forward by manifest reference
    * with zero data movement. This is the load shape that survives a 100 TB
    * target: a run costs the touched buckets, not a copy of the table
    * (reference semantics per loading.py:25-133).
    *
    * Correctness of the scoping: `actv_flg` flips only for rows whose key
    * appears in the batch, and a key's rows live in exactly one bucket
    * ([[keyBucket]] is a pure key function), so rows outside the touched
    * buckets are provably unchanged by [[upsert]].
    *
    * @return the committed version
    */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      warehousePath: String,
      batch: DataFrame,
      keyCols: Seq[String],
      nBuckets: Int,
      now: Column,
      bucketCol: String = "key_bucket"
  ): Long =
    VersionedTable.withLatest(spark, warehousePath)(
      upsertPartitionedOn(spark, _, warehousePath, batch, keyCols, nBuckets, now, bucketCol, Map.empty))

  /** One [[upsertPartitioned]] attempt: reads the touched buckets of
    * `target` (None: the warehouse has no commit yet) and commits on it,
    * with `marker` riding the manifest (a stream sink's exactly-once
    * marker, checked on the same snapshot).
    */
  private[graft] def upsertPartitionedOn(
      spark: org.apache.spark.sql.SparkSession,
      target: Option[VersionedTable.Snapshot],
      warehousePath: String,
      batch: DataFrame,
      keyCols: Seq[String],
      nBuckets: Int,
      now: Column,
      bucketCol: String,
      marker: Map[String, String]
  ): Long = graft.core.Caching.scoped {
    // operator-scoped cache of the bucketed batch (round-18, guide §2.4):
    // the batch subtree (often a window/join pipeline) is referenced by
    // the touched-list collect, the upsert's key set, and the inserted
    // branch — uncached it re-executed up to 3x per load. Batch-sized
    // (bounded by the load, not the table), MEMORY_AND_DISK, released at
    // commit; recomputed per invocation, never across runs.
    val b = graft.core.Caching.cached(batch.withColumn(bucketCol, keyBucket(keyCols, nBuckets)))
    // bounded driver-side list: at most nBuckets values
    val touched = b.select(bucketCol).distinct().collect().map(_.getLong(0)).sorted.map(_.toString).toSeq
    // ONE multi-dir relation for every touched bucket (round-18: was one
    // scan per bucket + a 16-way union); the schema fold null-pads drift
    // as the union did
    val targetTouched = target
      .flatMap(VersionedTable.readPartitionsUnioned(spark, _, touched))
      .getOrElse(emptyTarget(b, bucketCol))
    val result = upsert(targetTouched, b, keyCols, now)
    VersionedTable.commitDeltaOn(spark, warehousePath, target, result, bucketCol, extraMeta = marker)
  }

  /** GDPR / takedown deletion on a bucketed SCD-2 warehouse: removes EVERY
    * version (active and history) of the given business keys, rewriting
    * only the buckets those keys hash to — the other partitions carry
    * forward untouched. A bucket whose rows are all removed becomes an
    * empty partition (explicitly cleared from the manifest, never silently
    * resurrected).
    *
    * @return the committed version (current version if no bucket exists)
    */
  def deleteKeys(
      spark: org.apache.spark.sql.SparkSession,
      warehousePath: String,
      keys: DataFrame,
      keyCols: Seq[String],
      nBuckets: Int,
      bucketCol: String = "key_bucket"
  ): Long = VersionedTable.withLatest(spark, warehousePath) { latest =>
    val snap = latest.getOrElse(VersionedTable.noCommits(warehousePath))
    val doomed = keys.select(keyCols.map(col): _*).distinct()
    val touched = doomed
      .withColumn(bucketCol, keyBucket(keyCols, nBuckets))
      .select(bucketCol).distinct().collect().map(_.getLong(0)).sorted.map(_.toString).toSeq
    // single-relation touched read (round-18): the anti join distributes
    // over the bucket union — one scan + one join instead of per-bucket
    VersionedTable.readPartitionsUnioned(spark, snap, touched) match {
      case None => snap.version
      case Some(part) =>
        // NULL-SAFE anti join: a doomed key with NULL components must still
        // match NULL-keyed target rows (plain left_anti equality never
        // matches NULL, which would silently survive a takedown)
        val d = doomed.toDF(keyCols.map(c => s"__del_$c"): _*)
        val cond = keyCols.map(c => part(c) <=> d(s"__del_$c")).reduce(_ && _)
        val kept = part.join(broadcast(d), cond, "left_anti")
        VersionedTable.commitDeltaOn(spark, warehousePath, latest, kept, bucketCol, clearedParts = touched)
    }
  }

  private def emptyTarget(batchWithBucket: DataFrame, bucketCol: String): DataFrame =
    batchWithBucket
      .limit(0)
      .withColumn("actv_flg", lit("Y"))
      .withColumn("record_to", lit(null).cast("timestamp"))
}
