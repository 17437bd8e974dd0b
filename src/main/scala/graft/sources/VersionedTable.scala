package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Minimal transactional table layout: versioned snapshots with an atomic
  * commit log — the engine's stand-in for a Delta/Iceberg table format
  * (no external format jars in this build, same core semantics).
  *
  * Layout:
  * {{{
  *   table/
  *     v=1-<8 hex>/ v=2-<8 hex>/ ...  # write-once data dir of one commit attempt
  *       p=<part>/ ...                 # parquet data of the partitions it rewrote
  *     _commits/1.json ...             # commit manifest, created AFTER the data
  *     _dv/<id>                        # deletion-vector key lists
  * }}}
  *
  * Guarantees:
  *  - readers see only committed versions: version N exists once
  *    `_commits/N.json` does, and that file appears in one atomic step
  *  - time travel: `read(spark, path, Some(v))`
  *  - writers never mutate a published snapshot (rollback = read older v)
  *  - versions are gap-free (1..n): a commit on base b is version b + 1 and
  *    publishes by an atomic put-if-absent of `_commits/<b+1>.json` (a hard
  *    link of a fully written tmp file — link(2) refuses an existing
  *    name). Of concurrent writers on one base exactly one wins; the others
  *    abort with ConcurrentModificationException and retry on the new
  *    latest. Each attempt stages its data in a dir whose name is unique to
  *    it, so a losing or crashed writer never collides with another and
  *    never deletes another's data; [[vacuum]] reclaims such dirs by age.
  *    This is Delta's log protocol. Only `file:` tables are committed to:
  *    an object store needs its own put-if-absent primitive here.
  *
  * One layout, one commit: [[commitDelta]] is a partition-scoped rewrite —
  * only the partitions present in the written DataFrame get new data;
  * every other partition is carried forward BY REFERENCE in the commit
  * manifest (`"partitions": {"<part>": <version holding its data>}`, and
  * `"dirs": {"<version>": "<its data dir>"}`). A daily SCD-2 load over a
  * 100 TB table rewrites the few key-bucket partitions its batch touches
  * instead of copying the table; a small table that is rewritten whole
  * commits on one constant partition value. Every reader resolves a
  * version through that manifest; a commit json without one is refused
  * (`IllegalStateException`).
  */
object VersionedTable {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    committedVersions(fs(spark, path), path).maxOption

  /** The latest committed snapshot; None while the table has no commit. */
  private[graft] def latestSnapshot(spark: SparkSession, path: String): Option[Snapshot] =
    latestVersion(spark, path).map(Snapshot.at(spark, path, _))

  private[graft] def noCommits(path: String): Nothing =
    throw new IllegalArgumentException(s"no committed versions at $path")

  /** One optimistic read-modify-commit cycle: `attempt` reads through,
    * checks markers on and commits on ([[commitDeltaOn]]) ONE latest
    * snapshot (None: no commit yet). A commit overtaken since that snapshot
    * aborts with ConcurrentModificationException and the whole attempt
    * re-runs on a fresh one, at most 3 more times.
    */
  private[graft] def withLatest[T](spark: SparkSession, path: String)(attempt: Option[Snapshot] => T): T = {
    def run(retries: Int): T =
      try attempt(latestSnapshot(spark, path))
      catch { case _: java.util.ConcurrentModificationException if retries > 0 => run(retries - 1) }
    run(3)
  }

  /** Create `_commits/<v>.json` holding `meta` unless a commit already
    * holds version `v`: the json is written in full to a tmp file that is
    * hard-linked into place, so the create is atomic and exclusive.
    * False when version `v` is taken.
    */
  private def putIfAbsent(f: FileSystem, path: String, v: Long, meta: String): Boolean = {
    val commits = java.nio.file.Paths.get(f.makeQualified(new Path(s"$path/_commits")).toUri)
    java.nio.file.Files.createDirectories(commits)
    val tmp = commits.resolve(s"$v.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp, meta.getBytes("UTF-8"))
    try { java.nio.file.Files.createLink(commits.resolve(s"$v.json"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally java.nio.file.Files.delete(tmp)
  }

  /** Commit a DELTA: only the partitions present in `updated` (by the
    * string form of `partCol`) get new data under `<data dir>/p=<part>/`;
    * all other partitions carry forward by reference. The partition column
    * stays a real data column in the files (the `p=` layout is additional,
    * for pruned single-partition reads).
    *
    * `clearedParts`: partitions this commit intends to touch even if the
    * written DataFrame holds NO rows for them — they are dropped from the
    * carried-forward manifest (an empty partition), instead of silently
    * resurrecting their previous contents. Required for deletions that
    * empty a partition; harmless to over-state.
    */
  def commitDelta(
      spark: SparkSession,
      path: String,
      updated: DataFrame,
      partCol: String,
      clearedParts: Seq[String] = Nil,
      extraMeta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil
  ): Long =
    commitDeltaOn(spark, path, latestSnapshot(spark, path), updated, partCol, clearedParts, extraMeta, statsCols)

  /** [[commitDelta]] on `base` (None: no commit yet) as version
    * `base + 1`: the blind [[commitDelta]] passes the latest snapshot, a
    * [[withLatest]] attempt the snapshot it read. The data is staged in a
    * fresh `v=<base+1>-<8 hex>` dir, then one put-if-absent of
    * `_commits/<base+1>.json` publishes it. A commit published since
    * `base` makes this one abort with ConcurrentModificationException:
    * before any job runs when it is already there, else at the create,
    * which then deletes the staged dir. Only `file:` tables are accepted.
    */
  private[graft] def commitDeltaOn(
      spark: SparkSession,
      path: String,
      base: Option[Snapshot],
      updated: DataFrame,
      partCol: String,
      clearedParts: Seq[String] = Nil,
      extraMeta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      clearDv: Boolean = false
  ): Long = {
    val reserved = Set("version", "base", "schema", "committed_at", "partitions", "partition_column", "dirs")
    require(
      extraMeta.keySet.intersect(reserved).isEmpty,
      s"extraMeta must not use reserved manifest fields: ${extraMeta.keySet.intersect(reserved).mkString(",")}"
    )
    require(
      !extraMeta.keys.exists(_.startsWith("zone:")),
      "zone:* manifest fields are managed by statsCols; do not pass them via extraMeta"
    )
    statsCols.foreach(c =>
      require(c.matches("[A-Za-z0-9_]+"), s"statsCols name '$c' must be [A-Za-z0-9_]+ (it keys manifest fields)"))
    val scheme = Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    if (scheme != "file")
      throw new UnsupportedOperationException(
        s"cannot commit to $path: its scheme '$scheme' offers no atomic put-if-absent here (only file: tables)")
    val f = fs(spark, path)
    val baseVersion = base.map(_.version)
    val v = baseVersion.getOrElse(0L) + 1
    def overtaken = new java.util.ConcurrentModificationException(
      s"concurrent commit on $path (base was $baseVersion); retry the delta against the new latest version")
    // a base already overtaken aborts here, before the zone-stats job and
    // the staged write run
    if (f.exists(new Path(s"$path/_commits/$v.json"))) throw overtaken
    val prev = base.map(_.partitions).getOrElse(Map.empty[String, Long])
    // exactly-once stream markers ride ALONG THE LINEAGE: every delta commit
    // (loads, deletions, compaction) inherits the base manifest's
    // `stream_batch:*` fields, so the NEWEST commit always carries them and
    // compact+vacuum can never erase a marker a re-delivered micro-batch
    // needs to see (own extraMeta wins on key collision)
    // deletion vectors ride the lineage like stream markers — every commit
    // inherits the base's pending `dv:*` entries so merge-on-read keeps
    // applying them — EXCEPT a physical-apply commit (clearDv: the writer
    // certifies its data was produced from a DV-applied read of the whole
    // table, so the entries are spent)
    val inheritedDv =
      if (clearDv) Map.empty[String, String]
      else base.map(_.fields("dv:")).getOrElse(Map.empty[String, String])
    val meta = base.map(_.fields("stream_batch")).getOrElse(Map.empty) ++ inheritedDv ++ extraMeta
    // ZONE MAPS (the Delta/Iceberg data-skipping analogue): per written
    // partition, min/max of each requested long-castable column, recorded
    // in the manifest as `zone:<col>:<part>` -> "<min>,<max>". One extra
    // aggregation pass over the BATCH (not the table); the driver holds
    // one row per touched partition. All-null columns record no entry
    // (readers must scan such partitions). Stats for carried-forward
    // partitions are inherited below; partitions rewritten WITHOUT
    // statsCols drop their stale entries — pruning can only under-prune,
    // never serve wrong results.
    val zoneStats: Map[String, Seq[(String, (Long, Long))]] =
      if (statsCols.isEmpty) Map.empty
      else {
        val aggs = statsCols.flatMap(c =>
          Seq(min(col(c).cast("long")).as(s"__mn_$c"), max(col(c).cast("long")).as(s"__mx_$c")))
        updated
          .groupBy(col(partCol).cast("string").as("__p"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            r.getString(0) -> statsCols.flatMap { c =>
              val mn = r.getAs[Any](s"__mn_$c")
              val mx = r.getAs[Any](s"__mx_$c")
              if (mn == null || mx == null) None
              else Some(c -> (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
            }
          }
          .toMap
      }
    val dirName = s"v=$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val stage = new Path(s"$path/$dirName")
    // duplicate the partition column: partitionBy strips __part from the
    // files, the original column survives as data. Values are validated
    // INSIDE the write job (before anything is published): a NULL or
    // escape-needing value fails the stage, not the manifest — the p= dir
    // name must stay equal to the data column's value (NULL would land as
    // __HIVE_DEFAULT_PARTITION__, committed under a name no readPartition
    // of the real key can reach).
    val partStr = col(partCol).cast("string")
    val validatedPart = when(
      partStr.isNull,
      raise_error(lit(s"partition column '$partCol' must not be NULL for delta commits")).cast("string")
    ).when(
      !partStr.rlike("^[A-Za-z0-9_.-]+$"),
      raise_error(concat(lit("partition value '"), partStr, lit("' needs escaping; use simple bucket ids"))).cast("string")
    ).otherwise(partStr)
    // stage into this attempt's own dir, deleting it on EVERY abort path (a
    // rejected value or failed rename must not leave staged garbage)
    val written =
      try {
        // REBALANCE by the partition value before the partitioned write
        // (round-18, guide §6 "coalesce on write"): without it every task
        // of the upstream join/union stage opens a writer per partition
        // value it holds (observed: 48 files for a 16-bucket commit whose
        // rows fit in one), and at scale the same layout degrades to
        // tasks x partitions small files. The rebalance shuffle carries
        // only the batch being committed; AQE sizes the output tasks to
        // spark.sql.adaptive.advisoryPartitionSizeInBytes (scale-adaptive:
        // tiny commits coalesce to one writer, large commits split at the
        // advisory size, skewed buckets split too).
        //
        // GATED by the batch's estimated size (round-19, VERDICT r18 #1):
        // a commit whose whole batch fits inside ONE advisory partition
        // does not need AQE sizing to avoid small files. Many-small-commit
        // builders (index builds, per-day loads) were paying the rebalance
        // exchange + AQE replan on every commit (driver setup_sec: q130
        // 2.67->16.87 s, q140 8.84->18.68 s), while simply SKIPPING the
        // rebalance for small batches fans the write back out to tasks x
        // partitions tiny files, which every later read of the version then
        // pays for (measured in round 19: q80 2.5->6.0 s with the skip-only
        // gate). Above the advisory size the rebalance stays: AQE sizes
        // writers scale-adaptively.
        //
        // SMALL BAND: a KEYED placement, repartition(defaultParallelism,
        // __part). Every row of one partition value hashes to the same
        // task, so each p= dir still gets exactly ONE file, but the
        // partition values spread over every core; a task that gets no rows
        // writes no file. AQE never coalesces a REPARTITION_BY_NUM exchange,
        // so the writer count stays the core count. Round 19 used
        // coalesce(1) here (zero exchange), which pulled the whole upstream
        // into ONE task: the target scan, the upsert join and every bucket
        // write (the etl_daily load's write task read 8,050 input records
        // to write 3,117 rows, 600-740 ms, at 14% utilisation). With the
        // keyed placement and Scd2.upsert's one scan, traced on 4 cores:
        // etl_daily pipeline.load 1.78 -> 1.21 s, utilisation 0.15 ->
        // 0.26; stream_ingest load trigger 1.93 -> 1.14 s, 0.11 -> 0.21.
        //
        // TWO-BAND cutoff at advisory/16 (sf1 re-bench evidence): the small
        // band's fixed writer count is only right while the batch is
        // genuinely tiny — at ~10-14 MB (the suite's sf1 commit batches) a
        // single writer serialized the post-exchange apply work and the
        // multi-file partitioned write that the rebalance parallelizes
        // (q148 sf1 1.8->3.1 s, q144 sf1 5.1 s measured with a single-band
        // coalesce(1) gate), while the sf0.1-scale builder commits (~1-2 MB)
        // stay in the small band. The cutoff scales with the advisory conf,
        // so deployments that raise the advisory raise both bands together.
        // Plan-statistics estimate: over-estimation keeps the rebalance
        // (r18 behavior); under-estimation places a somewhat larger batch
        // through the keyed writers — bounded by how far stats can be off
        // for the join/union shapes commits carry.
        val advisory = spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val estBytes = updated.queryExecution.optimizedPlan.stats.sizeInBytes
        val staged = updated.withColumn("__part", validatedPart)
        val placed =
          if (estBytes <= BigInt(advisory) / 16) staged.repartition(spark.sparkContext.defaultParallelism, col("__part"))
          else staged.hint("rebalance", col("__part"))
        placed.write.partitionBy("__part").mode("errorifexists").parquet(stage.toString)
        val w = f.listStatus(stage).map(_.getPath.getName).filter(_.startsWith("__part=")).map(_.stripPrefix("__part="))
        w.foreach { p => // defense in depth; the write-side validation already enforced this
          require(p.matches("[A-Za-z0-9_.-]+"), s"partition value '$p' needs escaping; use simple bucket ids")
          if (!f.rename(new Path(stage, s"__part=$p"), new Path(stage, s"p=$p")))
            throw new IllegalStateException(s"failed to move partition $p into place in $stage")
        }
        if (w.isEmpty) f.delete(stage, true) // a metadata-only commit names no data dir
        w
      } catch {
        case e: Throwable =>
          f.delete(stage, true)
          throw e
      }
    val parts = (prev -- clearedParts.filterNot(written.contains)) ++ written.map(_ -> v)
    // data dirs ride the lineage like zone stats: every version the
    // manifest names keeps the dir its base recorded for it
    val named = parts.values.toSet
    val dirs = base.map(_.dirs).getOrElse(Map.empty[Long, String]).filter { case (pv, _) => named(pv) } ++
      (if (written.nonEmpty) Map(v -> dirName) else Map.empty)
    // zone stats ride the lineage like stream markers, but per PARTITION:
    // carried-forward partitions keep their base entries, rewritten or
    // cleared partitions drop them (fresh entries only if statsCols asked)
    val carried = parts.collect { case (p, pv) if pv != v => p }.toSet
    val inheritedZone = base
      .map(_.fields("zone:"))
      .getOrElse(Map.empty[String, String])
      .filter { case (k, _) => k.split(":", 3).lift(2).exists(carried.contains) }
    val newZone = zoneStats.flatMap { case (p, cs) =>
      cs.map { case (c, (mn, mx)) => s"zone:$c:$p" -> s"$mn,$mx" }
    }
    val metaAll = inheritedZone ++ meta ++ newZone
    val partsJson = parts.toSeq.sortBy(_._1).map { case (p, pv) => s"${jsonStr(p)}: $pv" }.mkString("{", ", ", "}")
    val dirsJson = dirs.toSeq.sortBy(_._1).map { case (pv, d) => s"${jsonStr(pv.toString)}: ${jsonStr(d)}" }.mkString("{", ", ", "}")
    val extraJson = metaAll.toSeq.sortBy(_._1).map { case (k, x) => s", ${jsonStr(k)}: ${jsonStr(x)}" }.mkString
    val published =
      try putIfAbsent(f, path, v,
        s"""{"version": $v, "base": ${baseVersion.getOrElse(0L)}, "schema": ${jsonStr(updated.schema.json)}, "committed_at": ${System.currentTimeMillis()}, "partition_column": ${jsonStr(partCol)}, "partitions": $partsJson, "dirs": $dirsJson$extraJson}""")
      catch { case e: Throwable => f.delete(stage, true); throw e }
    if (!published) {
      f.delete(stage, true)
      throw overtaken
    }
    v
  }

  /** Committed (published) versions of the table, any order. */
  def committedVersionsPublic(spark: SparkSession, path: String): Seq[Long] =
    committedVersions(fs(spark, path), path)

  private def committedVersions(f: FileSystem, path: String): Seq[Long] = {
    val commits = new Path(s"$path/_commits")
    if (!f.exists(commits)) Nil
    else f.listStatus(commits).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).toSeq
  }

  private def readCommitJson(spark: SparkSession, path: String, version: Long): com.fasterxml.jackson.databind.JsonNode = {
    val f = fs(spark, path)
    val p = new Path(s"$path/_commits/$version.json")
    require(f.exists(p), s"version $version of $path is not committed")
    val in = f.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
  }

  /** One committed version, resolved from its commit json in ONE read and
    * parse; readers and writers resolve a version once and pass this value
    * on. `partitionMap` is None when the json carries no `partitions`
    * object — [[partitions]] refuses such a commit. `dirs` maps each
    * version the manifest names to its data dir. `raw` holds every
    * textual top-level field: the recorded `schema`, `partition_column`,
    * and the markers (`stream_batch*`, `zone:*`, `dv:*`) and extraMeta
    * that ride the lineage. The schema is parsed only when a reader asks
    * for it.
    */
  private[graft] final case class Snapshot(
      path: String,
      version: Long,
      base: Option[Long],
      committedAt: Option[Long],
      partitionMap: Option[Map[String, Long]],
      dirs: Map[Long, String],
      raw: Map[String, String]
  ) {
    def partitionColumn: Option[String] = raw.get("partition_column")

    /** The manifest every reader and writer resolves partitions through. */
    def partitions: Map[String, Long] = partitionMap.getOrElse(
      throw new IllegalStateException(s"version $version of $path has no partitions manifest"))

    /** The data dir, relative to the table root, of the partitions the
      * manifest resolves to version `pv`.
      */
    def dirOf(pv: Long): String = dirs.getOrElse(pv,
      throw new IllegalStateException(s"version $version of $path names no data dir for version $pv"))

    /** The textual fields whose name starts with `prefix` (`stream_batch`,
      * `zone:`, `dv:` — the marker families every commit carries forward).
      */
    def fields(prefix: String): Map[String, String] = raw.filter(_._1.startsWith(prefix))

    /** The pending deletion-vector specs, sorted, that apply to a partition
      * last rewritten at `pv`: a spec `<file>|<cols>|<boundary>` scopes its
      * vector to partitions committed at or before the delete's base
      * version.
      */
    def dvSpecsFor(pv: Long): Seq[String] =
      fields("dv:").values.toSeq.sorted.filter(s => pv <= s.split("\\|", 3)(2).toLong)

    /** The recorded schema json of the DataFrame this commit wrote (the
      * schema of its own partitions).
      */
    def schemaJson: String =
      raw.getOrElse("schema", throw new IllegalStateException(s"commit $version of $path has no schema field"))

    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private[graft] object Snapshot {

    /** Read and parse `_commits/<version>.json`. A json that does not exist
      * (never published, or vacuumed) is an IllegalArgumentException.
      */
    def at(spark: SparkSession, path: String, version: Long): Snapshot = {
      import scala.jdk.CollectionConverters._
      val root = readCommitJson(spark, path, version)
      def num(name: String): Option[Long] = Some(root.path(name)).filter(_.isNumber).map(_.asLong())
      val parts = root.path("partitions")
      Snapshot(
        path, version, num("base"), num("committed_at"),
        if (parts.isObject) Some(parts.properties().asScala.iterator.map(e => e.getKey -> e.getValue.asLong()).toMap)
        else None,
        root.path("dirs").properties().asScala.iterator.map(e => e.getKey.toLong -> e.getValue.asText()).toMap,
        root.properties().asScala.iterator.filter(_.getValue.isTextual).map(e => e.getKey -> e.getValue.asText()).toMap)
    }

    /** The given version, or the latest committed one. */
    def resolve(spark: SparkSession, path: String, version: Option[Long] = None): Snapshot =
      version.map(servableAt(spark, path, _)).orElse(latestSnapshot(spark, path)).getOrElse(noCommits(path))

    /** [[at]], refused like a json that does not exist once [[vacuum]] has
      * reclaimed data the version names (its json may outlive that data by
      * up to the vacuum's grace window).
      */
    def servableAt(spark: SparkSession, path: String, version: Long): Snapshot = {
      val s = at(spark, path, version)
      require(servable(spark, s), s"version $version of $path was vacuumed")
      s
    }
  }

  /** Whether every data dir the snapshot's manifest names still exists. */
  private def servable(spark: SparkSession, s: Snapshot): Boolean = {
    val f = fs(spark, s.path)
    s.partitions.values.toSeq.distinct.forall(pv => f.exists(new Path(s"${s.path}/${s.dirOf(pv)}")))
  }

  /** A string field of a commit's metadata json (e.g. an exactly-once
    * stream batch marker written via commitDelta's extraMeta).
    */
  def commitField(spark: SparkSession, path: String, version: Long, name: String): Option[String] =
    Snapshot.at(spark, path, version).raw.get(name)

  /** Committed snapshots whose FULL referenced file set still exists on
    * disk, oldest first. Vacuum deletes version dirs referenced only by
    * non-retained manifests — but an old commit's JSON can survive (its own
    * dir still carried forward by a newer manifest, or not yet past the
    * vacuum's grace window) while dirs IT references are gone. Such a
    * version cannot be read or exported faithfully any more; exporters
    * skip it rather than emit a silently partial snapshot.
    * The newest commit must be servable: a table whose latest manifest
    * references vacuumed data is refused as corrupt.
    */
  private[graft] def servableSnapshots(spark: SparkSession, path: String): Seq[Snapshot] = {
    val committed = committedVersions(fs(spark, path), path).sorted
    val newest = Snapshot.at(spark, path, committed.lastOption.getOrElse(noCommits(path)))
    require(servable(spark, newest), s"newest commit ${newest.version} of $path references vacuumed data — table is corrupt")
    committed.filter(_ < newest.version).map(Snapshot.at(spark, path, _)).filter(servable(spark, _)) :+ newest
  }

  /** The parquet files a snapshot's manifest references, sorted by their
    * path relative to the table root: (relative path, partition, status).
    * The one file walk both exporters project their file lists from.
    */
  private[graft] def dataFiles(spark: SparkSession, snap: Snapshot): Seq[(String, String, FileStatus)] = {
    val f = fs(spark, snap.path)
    snap.partitions.toSeq.flatMap { case (p, pv) =>
      val d = s"${snap.dirOf(pv)}/p=$p"
      val dp = new Path(s"${snap.path}/$d")
      if (!f.exists(dp)) Nil
      else f.listStatus(dp).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => (s"$d/${s.getPath.getName}", p, s))
    }.sortBy(_._1)
  }

  /** DEFERRED KEY DELETION (merge-on-read, the Delta deletion-vector /
    * Iceberg equality-delete analogue): instead of rewriting every bucket
    * the doomed keys hash to, commit ONLY a key-list sidecar file
    * (`_dv/<id>`) plus a metadata-only delta commit whose manifest
    * carries a `dv:` entry. Every subsequent read — full, partition-
    * pruned, or time travel at-or-after this version — anti-joins the
    * pending vectors, so the deletion is visible IMMEDIATELY at metadata
    * cost O(|keys|), independent of table size. The physical rewrite is
    * deferred to [[compact]], which folds all pending vectors in and
    * clears the entries; [[vacuum]] then reclaims spent sidecar files.
    *
    * The vector is BOUNDARY-SCOPED (Delta's file-scoped semantics): it
    * applies only to partitions whose manifest version is at or before
    * the delete's base version. Data committed AFTER the delete — an
    * SCD-2 upsert or change-feed insert that legitimately re-introduces
    * a doomed key — is exempt and stays visible, matching
    * copy-on-write [[graft.operators.Scd2.deleteKeys]] semantics.
    * (Caveat inherited from partition-granularity scoping: an upsert
    * that REWRITES a bucket containing other doomed keys re-emits that
    * bucket DV-filtered — [[readPartitionsUnioned]] applies the vectors
    * during the rebuild — so those keys stay deleted through the rewrite.)
    *
    * The GDPR trade vs [[graft.operators.Scd2.deleteKeys]] (copy-on-
    * write): deferred deletes make the takedown instant and cheap, but
    * the doomed bytes remain on storage until compact+vacuum — run the
    * physical pass within the compliance window.
    *
    * @return the committed version carrying the new vector
    */
  def deleteKeysDeferred(spark: SparkSession, path: String, keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    keyCols.foreach(c =>
      require(c.matches("[A-Za-z0-9_]+"), s"keyCol '$c' must be [A-Za-z0-9_]+ (it is serialized in the manifest)"))
    withLatest(spark, path) { latest =>
      val snap = latest.getOrElse(noCommits(path))
      snap.partitions // the vector's boundary scoping needs one
      val partCol = snap.partitionColumn.getOrElse(
        throw new IllegalStateException(s"version ${snap.version} of $path records no partition_column"))
      val id = s"dv-${java.util.UUID.randomUUID().toString.take(12)}"
      keys.select(keyCols.map(col): _*).distinct().write.mode("errorifexists").parquet(s"$path/_dv/$id")
      // the vector is BOUNDARY-SCOPED to the data that existed when the
      // delete committed (Delta's file-scoped behavior): partitions whose
      // manifest version pv <= the attempt's snapshot are anti-joined;
      // partitions written by LATER commits are exempt, so a row
      // legitimately re-inserted with a doomed key after the delete stays
      // visible (ADVICE r10). The commit is based on that snapshot, so one
      // landing meanwhile (a compaction) aborts the attempt.
      try
        commitDeltaOn(
          spark, path, latest, read(spark, snap).limit(0), partCol,
          extraMeta = Map(s"dv:$id" -> s"$id|${keyCols.mkString(",")}|${snap.version}"))
      catch {
        case e: Throwable =>
          fs(spark, path).delete(new Path(s"$path/_dv/$id"), true) // unreferenced sidecar
          throw e
      }
    }
  }

  /** Anti-join `df` against the given deletion-vector specs (null-safe on
    * the recorded key columns — a doomed NULL key must still match
    * NULL-keyed rows). No specs: returns `df` unchanged, zero plan
    * overhead.
    */
  private def applyDvSpecs(spark: SparkSession, path: String, specs: Seq[String], df: DataFrame): DataFrame =
    specs.foldLeft(df) { (d, spec) =>
      val fields = spec.split("\\|", 3)
      val cols = fields(1).split(",").toSeq
      val dv = spark.read.parquet(s"$path/_dv/${fields(0)}").toDF(cols.map(c => s"__dv_$c"): _*)
      val cond = cols.map(c => d(c) <=> dv(s"__dv_$c")).reduce(_ && _)
      d.join(broadcast(dv), cond, "left_anti")
    }

  /** Assemble a multi-partition read with BOUNDARY-SCOPED deletion
    * vectors: partitions are grouped by which pending vectors apply to
    * them (by the pv<=boundary rule), each group anti-joins only its own
    * vectors, and the groups union back. Every group reads under the one
    * schema [[tableSchema]] folds from the commit log, so planning reads
    * no parquet footer; with no pending vectors this is one read. A
    * snapshot whose deletions cleared every partition reads as no rows
    * under the schema its own commit recorded.
    */
  private def readWithDv(spark: SparkSession, snap: Snapshot, parts: Seq[(String, Long)]): DataFrame = {
    if (parts.isEmpty) return spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
    val schema = tableSchema(spark, snap, parts)
    val groups = parts.sortBy(_._1)
      .groupBy { case (_, pv) => snap.dvSpecsFor(pv) }
      .toSeq
      .sortBy(_._2.head._1)
    val dfs = groups.map { case (specs, ps) =>
      val dirs = ps.map { case (p, pv) => s"${snap.path}/${snap.dirOf(pv)}/p=$p" }
      applyDvSpecs(spark, snap.path, specs, spark.read.schema(schema).parquet(dirs: _*))
    }
    dfs.reduce(_.unionByName(_))
  }

  /** The table schema of a set of partitions: the schemas recorded by the
    * commits that wrote them, folded in partition-name order — the column
    * order and null-padding a schema-merging parquet read of the same dirs
    * gives (partitions carried forward from older versions may predate a
    * schema-widening commit; they surface the new columns as nulls). A
    * column recorded under two different types is refused here: a read
    * under a given schema would silently cast the older files instead.
    */
  private def tableSchema(spark: SparkSession, snap: Snapshot, parts: Seq[(String, Long)]): StructType =
    foldSchemas(spark, snap, parts.sortBy(_._1).map(_._2))

  /** The fold of the schemas the given commits recorded, in the given
    * order; one commit-json read per distinct version (`snap` itself is not
    * re-read).
    */
  private[graft] def foldSchemas(spark: SparkSession, snap: Snapshot, versions: Seq[Long]): StructType = {
    def merge(a: DataType, b: DataType, column: String): DataType = (a, b) match {
      case (x: StructType, y: StructType) => mergeStruct(x, y)
      case (ArrayType(x, n), ArrayType(y, m)) => ArrayType(merge(x, y, column), n || m)
      case (MapType(k, x, n), MapType(l, y, m)) => MapType(merge(k, l, column), merge(x, y, column), n || m)
      case _ if a == b => a
      case _ => throw new IllegalStateException(
        s"cannot merge the recorded schemas of ${snap.path}: column $column is ${a.sql} in one commit and ${b.sql} in another")
    }
    def mergeStruct(a: StructType, b: StructType): StructType = StructType(
      a.fields.map(f => b.find(_.name == f.name).fold(f)(g =>
        f.copy(dataType = merge(f.dataType, g.dataType, f.name), nullable = f.nullable || g.nullable))) ++
        b.fields.filterNot(g => a.fieldNames.contains(g.name)))
    versions.distinct
      .map(v => (if (v == snap.version) snap else Snapshot.at(spark, snap.path, v)).schema)
      .reduce(mergeStruct)
  }

  /** Numeric type-widening lattice for schema evolution across commits:
    * integral types widen to the larger integral, fractional to double,
    * integral + fractional to double (documented lossy above 2^53 —
    * the standard lakehouse type-widening trade). Anything else must
    * match exactly.
    */
  private[sources] def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType
  ): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val rank: Map[DataType, Int] =
      Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3, FloatType -> 4, DoubleType -> 5)
    if (a == b) a
    else (rank.get(a), rank.get(b)) match {
      case (Some(ra), Some(rb)) =>
        val w = math.max(ra, rb)
        if (w <= 3) Seq(ByteType, ShortType, IntegerType, LongType)(w)
        else DoubleType // any fractional participant -> double
      case _ =>
        throw new IllegalStateException(s"cannot widen incompatible types $a / $b")
    }
  }

  /** TYPE-WIDENING READ (the Delta/Iceberg type-widening story): a
    * delta table whose partitions were written under DIFFERENT numeric
    * types across commits (a column upgraded int->long or ->double)
    * reads as one relation under the WIDEST type per column. Plain
    * [[read]]'s schema fold refuses conflicting recorded types; this
    * variant reads each partition under the schema its own commit
    * recorded, casts up the widening lattice, and unions — missing
    * columns null-pad as in the drift story. Deletion vectors apply as in
    * every read path.
    */
  def readWidened(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val snap = Snapshot.resolve(spark, path, version)
    val parts = snap.partitions.toSeq.sortBy(_._1)
    val recorded = parts.map(_._2).distinct.map(pv => pv -> foldSchemas(spark, snap, Seq(pv))).toMap
    val dfs = parts.map { case (p, pv) => spark.read.schema(recorded(pv)).parquet(s"$path/${snap.dirOf(pv)}/p=$p") }
    val target: Seq[(String, org.apache.spark.sql.types.DataType)] = dfs
      .flatMap(_.schema.fields.map(f => f.name -> f.dataType))
      .groupBy(_._1)
      .map { case (n, ts) => n -> ts.map(_._2).reduce(widenType) }
      .toSeq
      .sortBy(_._1)
    def conform(d: DataFrame): DataFrame =
      d.select(target.map { case (n, t) =>
        (if (d.columns.contains(n)) col(n) else lit(null)).cast(t).as(n)
      }: _*)
    // boundary-scoped DV application per partition (pre-union, so each
    // partition anti-joins only the vectors that apply to its pv)
    parts.zip(dfs).map { case ((_, pv), d) =>
      conform(applyDvSpecs(spark, path, snap.dvSpecsFor(pv), d))
    }.reduce(_.unionByName(_))
  }

  /** REPLICA DIVERGENCE AUDIT (the anti-entropy check behind q148's CDC
    * replication): compare two delta tables PARTITION BY PARTITION using
    * an order-independent content fingerprint — count plus the sum of
    * xxhash64 over each row's common columns — and report, per
    * partition, both row counts and whether content diverged. Partitions
    * present on one side only report diverged with the other side's
    * count null.
    *
    * SCALE: one aggregation pass per table (no row-level join between
    * replicas, no data movement across them — each side reduces to one
    * fingerprint row per partition, and only those meet). This is how
    * you audit a 100 TB replica nightly without shipping the table.
    */
  def divergedPartitions(spark: SparkSession, pathA: String, pathB: String): DataFrame = {
    def side(d: DataFrame, cols: Seq[String], partCol: String): DataFrame =
      // bit_xor, not sum: hash values span the full long range and an
      // ANSI sum overflows; xor is commutative/associative (order-free
      // across partitionings) and cannot overflow. Caveat carried by the
      // count column: xor cancels EVEN multiplicities of an identical
      // row, so equal-count same-xor corruption requires swapping pairs
      // of duplicate rows — detectable only with a stronger (decimal
      // sum) fingerprint if the table allows exact duplicate rows.
      // Each column hashes under a position-tagged null-discriminating
      // encoding ("<i>:<value>" / "<i>:null") — xxhash64 SKIPS null
      // inputs, so without the tag a value moving between a null and a
      // non-null column within a row ((x,null) vs (null,x)) hashed
      // identically and same-count corruption reported clean (ADVICE r10).
      d.withColumn("__h", xxhash64(cols.zipWithIndex.map { case (c, i) =>
        coalesce(concat(lit(s"$i:"), col(c).cast("string")), lit(s"$i:null"))
      }: _*))
        .groupBy(col(partCol).cast("string").as("part"))
        .agg(count(lit(1)).as("rows"), expr("bit_xor(__h)").as("fp"))
    def partColOf(snap: Snapshot): String = snap.partitionColumn.getOrElse(
      throw new IllegalStateException(s"${snap.path} is not a delta table (no partition_column)"))
    val (sa, sb) = (Snapshot.resolve(spark, pathA), Snapshot.resolve(spark, pathB))
    val (pa, pb) = (partColOf(sa), partColOf(sb))
    val (da, db) = (read(spark, sa), read(spark, sb))
    val common = (da.columns.toSet intersect db.columns.toSet).toSeq.sorted
    require(common.nonEmpty, "replicas share no columns to compare")
    val a = side(da, common, pa).select(col("part"), col("rows").as("rows_a"), col("fp").as("fp_a"))
    val b = side(db, common, pb).select(col("part"), col("rows").as("rows_b"), col("fp").as("fp_b"))
    a.join(b, Seq("part"), "full_outer")
      .select(
        col("part"),
        col("rows_a"), col("rows_b"),
        (!(col("fp_a") <=> col("fp_b")) || !(col("rows_a") <=> col("rows_b"))).as("diverged")
      )
  }

  /** Zone-map pruning plan for `statsCol BETWEEN lo AND hi`: partitions
    * split into (scan, skip). A partition is skipped ONLY when its
    * recorded [min,max] interval misses [lo,hi]; partitions without a
    * recorded entry are always scanned (stats are an optimization, never
    * a correctness input). Driver-side metadata only — one manifest read.
    */
  def zonePrunePlan(
      spark: SparkSession,
      path: String,
      statsCol: String,
      lo: Long,
      hi: Long,
      version: Option[Long] = None
  ): (Seq[String], Seq[String]) =
    zonePrunePlan(Snapshot.resolve(spark, path, version), statsCol, lo, hi)

  private def zonePrunePlan(snap: Snapshot, statsCol: String, lo: Long, hi: Long): (Seq[String], Seq[String]) =
    snap.partitions.keys.toSeq.sorted.partition { p =>
      snap.raw.get(s"zone:$statsCol:$p") match {
        case Some(s) =>
          val Array(mn, mx) = s.split(",", 2)
          !(mx.toLong < lo || mn.toLong > hi)
        case None => true
      }
    }

  /** Zone-map pruned range scan — the 100 TB point of the stats: a
    * predicate on a CLUSTERED column (z-ordered / range-bucketed layout)
    * opens only the partitions whose recorded [min,max] intersects the
    * requested range; everything else is eliminated from DRIVER METADATA
    * before a single file is listed. The residual predicate is still
    * applied to the scanned partitions (zone maps prune at partition
    * granularity, they do not filter rows). On a hash-bucketed layout
    * every partition spans the full value range and nothing prunes —
    * cluster first (see the Z-order operator), then skip.
    */
  def readZonePruned(
      spark: SparkSession,
      path: String,
      statsCol: String,
      lo: Long,
      hi: Long,
      version: Option[Long] = None
  ): DataFrame = {
    val snap = Snapshot.resolve(spark, path, version)
    val residual = col(statsCol).cast("long").between(lo, hi)
    val (scan, _) = zonePrunePlan(snap, statsCol, lo, hi)
    readPartitionsUnioned(spark, snap, scan).getOrElse(read(spark, snap).limit(0)).filter(residual)
  }

  /** The partition->version manifest of a commit; None when the commit
    * json carries no `partitions` object.
    */
  def partitionMap(spark: SparkSession, path: String, version: Long): Option[Map[String, Long]] =
    Snapshot.at(spark, path, version).partitionMap

  private def jsonStr(s: String): String = graft.core.Json.str(s)

  /** Read a specific version, or the latest committed one. Each partition
    * resolves to the version dir that last rewrote it.
    */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    read(spark, Snapshot.resolve(spark, path, version))

  private[graft] def read(spark: SparkSession, snap: Snapshot): DataFrame =
    // merge-on-read: deletion vectors pending at the snapshot filter EVERY
    // read path (deferred deletes are visible from their commit version
    // onward), boundary-scoped so partitions written AFTER a delete are
    // exempt
    readWithDv(spark, snap, snap.partitions.toSeq)

  /** Pruned read of ONE partition — the scan a point query / per-bucket job
    * does instead of touching the whole table. Partitions the table has
    * never written return None.
    */
  def readPartition(spark: SparkSession, path: String, part: String, version: Option[Long] = None): Option[DataFrame] =
    readPartitionsUnioned(spark, path, Seq(part), version)

  /** Pruned read of several partitions as ONE relation with ONE manifest
    * read (round-18, guide §2.4/§6): all requested dirs of each DV-group go
    * to a single read under the commit log's schema (exactly [[read]]'s
    * own assembly, via [[readWithDv]]), so the read plans and lists once
    * and downstream joins see one relation — a per-bucket relation +
    * union planned 16 leaf scans, 16 file listings and a 16-way union per
    * touched-bucket read of a 16-bucket upsert. Returns None when none of the requested
    * partitions exist. Merge-on-read applies here too: the SCD-2
    * touched-bucket rebuild reads through this path, and without the DV
    * filter an upsert would copy doomed rows back into the buckets it
    * rewrites. Cross-commit TYPE drift (e.g. int -> long widening across
    * versions) is REFUSED by the schema fold ([[tableSchema]]) — the
    * delta-commit write path never produces such tables (the schema is
    * recorded per commit and upserts write the merged batch), and tables
    * that need widening semantics read via [[readWidened]].
    */
  def readPartitionsUnioned(
      spark: SparkSession,
      path: String,
      parts: Seq[String],
      version: Option[Long] = None
  ): Option[DataFrame] =
    readPartitionsUnioned(spark, Snapshot.resolve(spark, path, version), parts)

  private[graft] def readPartitionsUnioned(spark: SparkSession, snap: Snapshot, parts: Seq[String]): Option[DataFrame] = {
    val present = parts.distinct.flatMap(p => snap.partitions.get(p).map(pv => p -> pv))
    if (present.isEmpty) None
    else Some(readWithDv(spark, snap, present))
  }

  /** CDC DOWNSTREAM APPLY — the consumer half of [[changeFeed]]: apply a
    * feed (full-row records tagged `_change_type` insert / delete /
    * update_preimage / update_postimage) to a REPLICA delta table,
    * advancing it from the feed's from-state to its to-state. This is
    * how a derived table (serving copy, regional replica, downstream
    * mart) follows a source warehouse without full recopies: cost is
    * proportional to the CHANGED partitions, not the table.
    *
    * Upsert semantics make the apply IDEMPOTENT: the replica drops every
    * row whose key appears anywhere in the feed (pre-images and deletes,
    * but also insert/post-image keys), then inserts the insert/post-image
    * rows — re-applying the same feed is a no-op, so an at-least-once
    * delivery pipeline converges. Only the partitions named by the feed's
    * `partCol` values are rewritten; the driver holds one partition id
    * per touched partition.
    *
    * @return the replica's committed version
    */
  def applyChangeFeed(
      spark: SparkSession,
      replicaPath: String,
      feed: DataFrame,
      keyCols: Seq[String],
      partCol: String
  ): Long = withLatest(spark, replicaPath) { latest =>
    applyChangeFeedOn(spark, latest.getOrElse(noCommits(replicaPath)), feed, keyCols, partCol, Map.empty)
  }

  /** One [[applyChangeFeed]] attempt on the replica snapshot `replica`,
    * committing `marker` with it (a stream sink's exactly-once marker,
    * checked on the same snapshot:
    * [[graft.streaming.Streaming.cdcApplySink]]).
    */
  private[graft] def applyChangeFeedOn(
      spark: SparkSession,
      replica: Snapshot,
      feed: DataFrame,
      keyCols: Seq[String],
      partCol: String,
      marker: Map[String, String]
  ): Long = graft.core.Caching.scoped {
    require(keyCols.nonEmpty, "applyChangeFeed: keyCols must be non-empty")
    require(feed.columns.contains("_change_type"), "applyChangeFeed: feed must carry _change_type")
    // feed-scoped cache (round-18): the feed subtree is referenced by the
    // touched-partition collect, the displaced-key set, and the adds
    // branch — uncached (e.g. a changeFeed diff, or a streaming
    // micro-batch source) it re-executed up to 3x per apply. Feed-sized,
    // MEMORY_AND_DISK, released before return.
    val feedC = graft.core.Caching.cached(feed)
    val touched = feedC.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (touched.isEmpty) replica.version
    else {
      // single-relation touched read (round-18): the anti join distributes
      // over the bucket union, so one scan + one join replaces a
      // per-bucket join fan-out (same broadcast dict either way)
      val existing = readPartitionsUnioned(spark, replica, touched)
      val allKeys = feedC.select(keyCols.map(col): _*).distinct()
      val adds = feedC
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
      // NULL-SAFE anti join (a NULL-keyed change must still displace
      // NULL-keyed replica rows — deleteKeys' rule)
      val kept = existing.map { part =>
        val d = allKeys.toDF(keyCols.map(c => s"__chg_$c"): _*)
        val cond = keyCols.map(c => part(c) <=> d(s"__chg_$c")).reduce(_ && _)
        part.join(broadcast(d), cond, "left_anti")
      }
      val next = kept match {
        case Some(k) => k.unionByName(adds, allowMissingColumns = true)
        case None => adds
      }
      commitDeltaOn(spark, replica.path, Some(replica), next, partCol, clearedParts = touched, extraMeta = marker)
    }
  }

  /** Targeted row deletion (the right-to-be-forgotten / takedown sweep a
    * training-data lake must support): rewrite ONLY the partitions that
    * contain matching rows, dropping them; every other partition carries
    * forward untouched. `touchedParts` bounds the rewrite (for key-bucketed
    * tables: the buckets the doomed keys hash to — computable from the keys
    * alone); the predicate is re-applied inside, so over-approximating
    * touchedParts is safe, under-approximating is not.
    *
    * @return the committed version
    */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      partCol: String,
      touchedParts: Seq[String],
      predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil // re-record zone maps on the rewritten parts
  ): Long = withLatest(spark, path) { latest =>
    deleteWhereOn(spark, latest.getOrElse(noCommits(path)), partCol, touchedParts, predicate, statsCols)
  }

  private def deleteWhereOn(
      spark: SparkSession,
      snap: Snapshot,
      partCol: String,
      touchedParts: Seq[String],
      predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String]
  ): Long = {
    // single-relation touched read (round-18): filter distributes over the
    // bucket union; the schema fold null-pads drift as the union did
    val existing = readPartitionsUnioned(spark, snap, touchedParts)
    require(existing.nonEmpty, s"none of ${touchedParts.mkString(",")} exist at ${snap.path} — nothing to delete")
    // SQL DELETE semantics: remove rows where the predicate is TRUE; rows
    // where it evaluates NULL are KEPT (a bare !predicate would drop them)
    val kept = existing.get.filter(!coalesce(predicate, lit(false)))
    // clearedParts: a bucket whose rows ALL matched writes no data — without
    // the explicit clear its old contents would carry forward (resurrected
    // deletes)
    commitDeltaOn(spark, snap.path, Some(snap), kept, partCol, clearedParts = touchedParts, statsCols = statsCols)
  }

  /** RETENTION SWEEP — temporal deletion, the time-based twin of the
    * keyed GDPR sweep: delete every row with `statsCol < cutoffExclusive`,
    * touching ONLY the partitions whose zone map intersects the doomed
    * range. On a time-clustered layout (the natural one for event data)
    * the touched set is the handful of oldest partitions — driver
    * metadata, no file listing — and everything newer carries forward by
    * manifest reference; a partition without recorded stats is
    * conservatively treated as touched ([[deleteWhere]] re-applies the
    * predicate inside, so over-approximation is safe, and a fully-doomed
    * partition is dropped via its cleared manifest entry). This is the
    * nightly "keep 90 days" job at 100 TB/day: cost O(expiring
    * partitions), never a table scan.
    *
    * @return the committed version (the current one if nothing intersects)
    */
  def retentionSweep(
      spark: SparkSession,
      path: String,
      partCol: String,
      statsCol: String,
      cutoffExclusive: Long
  ): Long = {
    // Long.MinValue would underflow the zone upper bound below into "touch
    // everything" — and means "delete nothing" anyway
    require(cutoffExclusive > Long.MinValue, "retentionSweep: cutoffExclusive must be > Long.MinValue")
    withLatest(spark, path) { latest =>
      // the zone plan, the read and the commit all use this one snapshot
      val snap = latest.getOrElse(noCommits(path))
      val (touched, _) = zonePrunePlan(snap, statsCol, Long.MinValue, cutoffExclusive - 1)
      if (touched.isEmpty) snap.version
      else
        // statsCols: re-record the zone map on the rewritten (straddling)
        // partitions, so the NEXT sweep still prunes them — without it the
        // rewrite would drop their stats and the nightly job would degrade
        // to conservative full-touch over time
        deleteWhereOn(spark, snap, partCol, touched, col(statsCol).cast("long") < cutoffExclusive, Seq(statsCol))
    }
  }

  /** COMPACT (the OPTIMIZE analogue): rewrite the CURRENT state of a
    * delta-committed table as one fresh delta commit touching every live
    * partition, with `filesPerPartition` output files each. Daily
    * touched-bucket loads accumulate small files per partition across
    * versions; compaction folds them into full-size files and (followed by
    * [[vacuum]]) releases the old dirs. Readers never block: the compacted
    * version publishes atomically like any commit.
    */
  def compact(spark: SparkSession, path: String, partCol: String): Long = withLatest(spark, path) { latest =>
    // hash-repartition by the partition column: each partition value lands
    // wholly in one task -> exactly one output file per partition dir.
    // `read` applies pending deletion vectors, so compaction IS the
    // physical delete pass: clearDv spends the vector entries, and
    // clearing every prior partition drops any partition whose rows were
    // ALL deleted (it writes no data and must not carry stale bytes
    // forward).
    val snap = latest.getOrElse(noCommits(path))
    val current = read(spark, snap).repartition(col(partCol))
    commitDeltaOn(spark, path, latest, current, partCol, clearedParts = snap.partitions.keys.toSeq, clearDv = true)
  }

  /** VACUUM: delete the data no commit among the newest `retainVersions`
    * names. Time travel keeps working for those commits; older versions are
    * refused (IllegalArgumentException), exactly Delta VACUUM's contract.
    *  - A data dir or deletion-vector sidecar that only expired commits
    *    name goes at once.
    *  - One that no committed json names — an in-flight, losing or crashed
    *    writer's — goes only once it is older than `orphanGraceMs`, and so
    *    does a stray tmp file in `_commits`.
    *  - An expired commit json goes once its own data dir is gone (or it
    *    wrote none) and it is older than `orphanGraceMs`. Until then its
    *    version number stays taken: a writer whose base precedes it may
    *    still be in flight, and its put-if-absent must not win that old
    *    number, or its update would never reach the latest version.
    * `orphanGraceMs` is thus the longest a commit attempt may run; 0
    * forces, which is only safe while nothing writes to the table.
    *
    * @return the version of each data dir removed, ascending
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = 2, orphanGraceMs: Long = 24L * 3600 * 1000): Seq[Long] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, path)
    val now = System.currentTimeMillis()
    def aged(st: FileStatus): Boolean = now - st.getModificationTime >= orphanGraceMs
    def ls(dir: String): Seq[FileStatus] = {
      val p = new Path(dir)
      if (f.exists(p)) f.listStatus(p).toSeq else Nil
    }
    val logs = ls(s"$path/_commits")
    val committed = logs.map(_.getPath.getName).filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).sorted
    if (committed.isEmpty) return Nil
    val (expired, retained) = committed.splitAt(committed.size - retainVersions)
    val dataDirs = ls(path).filter(st => st.isDirectory && DataDir.matches(st.getPath.getName))
    val sidecars = ls(s"$path/_dv")
    // listed AFTER the dirs, so a commit published meanwhile keeps its dir
    val live = (retained ++ committedVersions(f, path).filter(_ > committed.last)).map(Snapshot.at(spark, path, _))
    val gone = expired.map(Snapshot.at(spark, path, _))
    def dvIds(s: Snapshot): Iterable[String] = s.fields("dv:").values.map(_.split("\\|", 2)(0))
    // an entry no live commit names goes at once when an expired one names
    // it, else once it is older than the grace window
    def reclaim(entries: Seq[FileStatus], keep: Set[String], expiredNamed: Set[String]): Seq[FileStatus] = {
      val doomed = entries.filter { st =>
        val n = st.getPath.getName
        !keep(n) && (expiredNamed(n) || aged(st))
      }
      doomed.foreach(st => f.delete(st.getPath, true))
      doomed
    }
    val keptDirs = live.flatMap(_.dirs.values).toSet
    val removed = reclaim(dataDirs, keptDirs, gone.flatMap(_.dirs.values).toSet)
    reclaim(sidecars, live.flatMap(dvIds).toSet, gone.flatMap(dvIds).toSet)
    val agedLogs = logs.filter(aged).map(_.getPath.getName).toSet
    gone.filter(s => agedLogs(s"${s.version}.json") && !s.dirs.get(s.version).exists(keptDirs))
      .foreach(s => f.delete(new Path(s"$path/_commits/${s.version}.json"), false))
    logs.filter(st => st.getPath.getName.endsWith(".tmp") && aged(st)).foreach(st => f.delete(st.getPath, false))
    removed.map { st => val DataDir(v) = st.getPath.getName; v.toLong }.sorted
  }

  /** A data dir name: `v=<version>-<8 hex>`. */
  private val DataDir = """v=(\d+)-[0-9a-f]{8}""".r

  /** Change data feed between two committed versions of a delta-style
    * table: every row-level difference, typed Delta-CDF-style as `insert`,
    * `delete`, or an `update_preimage`/`update_postimage` pair.
    *
    * Scale shape: the two manifests are diffed FIRST (metadata-sized), and
    * only partitions whose resolved version or applying deletion vectors
    * differ are read on either side — an incremental consumer of a 100 TB
    * table pays O(changed partitions), never a two-snapshot scan.
    * Unchanged partitions cannot contribute diffs (the same files under
    * the same vectors), so pruning them is exact, not approximate.
    *
    * `keyCols` is the row identity the diff joins on; it must be unique
    * per side within the changed partitions — enforced with an in-plan
    * `assert_true` folded into the packing aggregation (round-18), because
    * a silent many-to-many diff would fabricate change rows. The guard
    * fires AT EXECUTION TIME of the returned feed, not at call time:
    * a duplicate key surfaces as a SparkException-wrapped runtime error
    * naming the key (not an eager IllegalArgumentException as in earlier
    * rounds), and a feed that is never fully executed never evaluates the
    * guard. Callers that catch the old exception type must adapt. Schema
    * drift between the versions is null-padded (typed nulls, mirroring
    * `read`'s schema fold); a column added between versions surfaces as
    * `update_*` pairs with the preimage null.
    *
    * Output: the union of both versions' columns plus `_change_type`;
    * unchanged rows emit nothing.
    */
  def changeFeed(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Long,
      keyCols: Seq[String]
  ): DataFrame = {
    require(fromVersion < toVersion, s"changeFeed: fromVersion $fromVersion must precede toVersion $toVersion")
    require(keyCols.nonEmpty, "changeFeed: keyCols must be non-empty")
    val (sOld, sNew) = (Snapshot.servableAt(spark, path, fromVersion), Snapshot.servableAt(spark, path, toVersion))
    // a partition changed when it resolves to another version dir OR
    // another set of deletion vectors applies to it (a deferred delete
    // rewrites no partition, it only adds a vector)
    def state(snap: Snapshot, p: String): Option[(Long, Seq[String])] =
      snap.partitions.get(p).map(pv => pv -> snap.dvSpecsFor(pv))
    val changed = (sOld.partitions.keySet ++ sNew.partitions.keySet)
      .filter(p => state(sOld, p) != state(sNew, p)).toSeq.sorted

    // one multi-dir relation per side (round-18, guide §2.4), read like
    // every other read path: under the schema fold and the side's own
    // deletion vectors
    def side(snap: Snapshot): Option[DataFrame] = readPartitionsUnioned(spark, snap, changed)

    (side(sOld), side(sNew)) match {
      case (None, None) =>
        // no changed partitions at all: an empty feed with just the keys
        read(spark, sNew).limit(0).withColumn("_change_type", lit("insert"))
      case (oldDf, newDf) =>
        val allCols: Seq[String] = {
          val o = oldDf.map(_.columns.toSeq).getOrElse(Nil)
          val n = newDf.map(_.columns.toSeq).getOrElse(Nil)
          (o ++ n.filterNot(o.contains)).distinct
        }
        // Key columns must exist on EVERY present side: padding a key
        // with nulls would join rows on null keys and misclassify every
        // update as delete+insert.
        Seq(oldDf -> "from", newDf -> "to").foreach { case (side, label) =>
          side.foreach(d =>
            keyCols.foreach(kc => require(
              d.columns.contains(kc),
              s"changeFeed: key column '$kc' missing from the $label version's schema — " +
                "the row identity must exist on both sides of the diff")))
        }
        val payload = allCols.filterNot(keyCols.contains)
        // Null-pad schema drift with TYPED nulls (the drifted column's
        // type from whichever side carries it) so the packed structs have
        // identical types and <=> compares without NullType coercion.
        val colType: Map[String, org.apache.spark.sql.types.DataType] =
          (oldDf.toSeq ++ newDf.toSeq).flatMap(_.schema.fields.map(f => f.name -> f.dataType)).toMap
        def widen(df: DataFrame): DataFrame = {
          val missing = allCols.filterNot(df.columns.contains)
          missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast(colType(c))))
        }
        def packed(df: Option[DataFrame], structName: String): DataFrame = df match {
          case Some(d) =>
            val w = widen(d)
            // loud uniqueness guard, folded INTO the plan (round-18): the
            // previous eager groupBy+collect guard re-ran the whole side's
            // scan as a separate job before the diff even started (two
            // extra full jobs per feed). One aggregation now both packs
            // and guards: a duplicated key makes the full-outer diff
            // many-to-many, so assert_true throws at execution time with
            // the offending key; for unique keys (the only passing case)
            // first() is the single row and the output is identical. The
            // agg's hash partitioning on keyCols is exactly the join's, so
            // the exchange is shared — no extra shuffle.
            w.select(keyCols.map(col) :+ struct(payload.map(col): _*).as(structName): _*)
              .groupBy(keyCols.map(col): _*)
              .agg(count(lit(1)).as("__c"), first(col(structName)).as(structName))
              .filter(coalesce(
                assert_true(
                  col("__c") <= 1,
                  concat(
                    lit(s"changeFeed: key ${keyCols.mkString("(", ",", ")")} is not unique in changed partitions (e.g. "),
                    concat_ws(",", keyCols.map(c => col(c).cast("string")): _*),
                    lit(")"))
                ).cast("boolean"),
                lit(true)))
              .select(keyCols.map(col) :+ col(structName): _*)
          case None =>
            // absent side: no rows, but the join still needs the shape
            val w = widen(newDf.orElse(oldDf).get).limit(0)
            w.select(keyCols.map(col) :+ struct(payload.map(col): _*).as(structName): _*)
        }
        val o = packed(oldDf, "__old")
        val n = packed(newDf, "__new")
        val joined = o.join(n, keyCols, "full_outer")
        val changeElem = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("v", n.schema("__new").dataType))))
        // typed change rows: insert/delete emit one row, updates a
        // preimage/postimage pair; identical rows (null-safe struct
        // equality) emit nothing
        val changes = joined.select(
          keyCols.map(col) :+ explode(
            when(col("__old").isNull, array(struct(lit("insert").as("t"), col("__new").as("v"))))
              .when(col("__new").isNull, array(struct(lit("delete").as("t"), col("__old").as("v"))))
              .when(!(col("__old") <=> col("__new")), array(
                struct(lit("update_preimage").as("t"), col("__old").as("v")),
                struct(lit("update_postimage").as("t"), col("__new").as("v"))))
              .otherwise(array().cast(changeElem))
          ).as("__chg"): _*)
        changes.select(
          keyCols.map(col) ++ payload.map(p => col(s"__chg.v.$p").as(p)) :+ col("__chg.t").as("_change_type"): _*)
    }
  }
}
