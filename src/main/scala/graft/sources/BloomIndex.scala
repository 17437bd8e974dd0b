package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PER-PARTITION BLOOM-FILTER INDEX over a versioned table — the Delta
  * bloom-index analogue, for point lookups on a column UNRELATED to the
  * partition layout (zone maps cover clustered columns; a hash-bucketed
  * or foreign-keyed layout spans the full value range of everything
  * else, and without an index a point lookup scans every partition).
  *
  * Build: ONE aggregation pass over the pinned table version — each
  * partition's key hashes fold map-side into an m-bit
  * [[graft.plans.BloomFilter.BloomAgg]] bitset — persisted as a tiny
  * parquet of (partition, bits) plus a _meta.json pinning
  * (table, version, column, m, k). At rest the index is
  * O(partitions × m/8) bytes regardless of table size.
  *
  * Probe: the index frame (one row per partition) is read and evaluated
  * DRIVER-SIDE against the probe keys; only partitions whose filter
  * claims a possible hit are opened, then the exact residual `IN` filter
  * runs on the scanned rows. False positives cost an extra partition
  * scan, never a wrong row — and the deterministic double-hash probe
  * ([[graft.plans.BloomFilter.position]]) means even the FP set replays
  * identically everywhere.
  */
object BloomIndex {

  /** Stand-in partition name for a NULL partition value. A null `part`
    * row would NPE the sorted prune lists and — worse — `isin(scan)`
    * can never match a null partition, so null-partition rows would
    * silently vanish from lookups (ADVICE r12). The sentinel keeps the
    * index total: the null partition gets its own filter row, and
    * [[lookup]] translates the sentinel back into an `isNull` predicate.
    */
  val NullPart: String = "\u0000__NULL_PARTITION__"

  /** Above this many partitions, [[prunePlan]] evaluates membership
    * EXECUTOR-SIDE (probe hashes broadcast, index frame filtered
    * distributed) instead of collecting every partition's m-bit filter
    * to the driver: at the default m = 2^18 each row is 32 KB, so a
    * 10^5-partition table would otherwise pull ~3 GB through the driver
    * per probe. Below the budget the driver-side path is cheaper (one
    * tiny parquet read, no job).
    */
  val DefaultDriverBudgetParts: Int = 4096

  /** Build the index for `column` at the given (default latest) version.
    * Returns the indexed table version.
    */
  def build(
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      column: String,
      m: Int = 1 << 18,
      k: Int = 3,
      version: Option[Long] = None
  ): Long = {
    val snap = VersionedTable.Snapshot.resolve(spark, tablePath, version)
    val v = snap.version
    val partCol = snap.partitionColumn.getOrElse(
      throw new IllegalStateException(s"$tablePath@$v is not a delta table; bloom index needs partitions"))
    VersionedTable.read(spark, snap)
      .select(
        coalesce(col(partCol).cast("string"), lit(NullPart)).as("part"),
        graft.plans.HashExpressions.md5Prefix60(col(column).cast("string")).as("h"))
      .groupBy(col("part"))
      .agg(org.apache.spark.sql.functions.udaf(new HashBloomAgg(m, k)).apply(col("h")).as("bits"))
      .write.mode("overwrite").parquet(s"$indexPath/parts")
    val metaJson =
      s"""{"table": ${graft.core.Json.str(tablePath)}, "version": $v, "column": ${graft.core.Json.str(column)}, "m": $m, "k": $k, "part_col": ${graft.core.Json.str(partCol)}}"""
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_meta.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = f.create(p, true)
    o.write(metaJson.getBytes("UTF-8"))
    o.close()
    v
  }

  private def meta(spark: SparkSession, indexPath: String): com.fasterxml.jackson.databind.JsonNode = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_meta.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new String(bytes, "UTF-8"))
  }

  /** Pruning decision only (exposed for tests/plan audits): partitions to
    * scan vs skip for the probe keys. Identical decisions in both modes;
    * `driverBudgetParts` only picks WHERE the filters are evaluated
    * (driver collect vs distributed filter that ships only names).
    */
  def prunePlan(
      spark: SparkSession,
      indexPath: String,
      keys: Seq[String],
      driverBudgetParts: Int = DefaultDriverBudgetParts
  ): (Seq[String], Seq[String]) =
    prunePlanWith(spark, indexPath, keys, meta(spark, indexPath), driverBudgetParts)

  private def prunePlanWith(
      spark: SparkSession,
      indexPath: String,
      keys: Seq[String],
      mt: com.fasterxml.jackson.databind.JsonNode,
      driverBudgetParts: Int = DefaultDriverBudgetParts
  ): (Seq[String], Seq[String]) = {
    val (m, k) = (mt.path("m").asInt(), mt.path("k").asInt())
    val hashes = keys.map(s => graft.plans.Md5Prefix60.hash(s.getBytes("UTF-8")))
    val idxDf = spark.read.parquet(s"$indexPath/parts")
    // row count from parquet footers — no bits move before the mode choice
    val nParts = idxDf.count()
    if (nParts <= driverBudgetParts) {
      val idx = idxDf.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      val (scan, skip) = idx.partition { case (_, bits) =>
        hashes.exists(h => graft.plans.BloomFilter.contains(bits, m, k, h))
      }
      (scan.map(_._1).sorted.toSeq, skip.map(_._1).sorted.toSeq)
    } else {
      // distributed prune: broadcast the (bounded) probe hashes, evaluate
      // each partition's filter where its 32 KB row already lives, and
      // collect ONLY (name, hit) — O(parts × name) driver bytes, never
      // O(parts × m/8)
      val bc = spark.sparkContext.broadcast(hashes.toArray)
      val hit = udf((bits: Array[Byte]) => bc.value.exists(h => graft.plans.BloomFilter.contains(bits, m, k, h)))
      val decided = idxDf.select(col("part"), hit(col("bits")).as("hit")).collect()
      val (scan, skip) = decided.partition(_.getBoolean(1))
      (scan.map(_.getString(0)).sorted.toSeq, skip.map(_.getString(0)).sorted.toSeq)
    }
  }

  /** Point lookup through the index: open only claiming partitions, then
    * the exact residual filter. Row-exact regardless of FP rate.
    */
  def lookup(spark: SparkSession, indexPath: String, keys: Seq[String]): DataFrame = {
    val mt = meta(spark, indexPath)
    val (tablePath, v) = (mt.path("table").asText(), mt.path("version").asLong())
    val (column, partCol) = (mt.path("column").asText(), mt.path("part_col").asText())
    val (scan, _) = prunePlanWith(spark, indexPath, keys, mt) // one _meta read per lookup
    val snap = VersionedTable.read(spark, tablePath, Some(v))
    val residual = col(column).cast("string").isin(keys: _*)
    if (scan.isEmpty) snap.limit(0)
    else {
      // the sentinel names the NULL partition: isin can't match it, so it
      // becomes an explicit isNull disjunct
      val named = scan.filterNot(_ == NullPart)
      val partPred =
        if (named.size == scan.size) col(partCol).cast("string").isin(named: _*)
        else if (named.isEmpty) col(partCol).isNull
        else col(partCol).cast("string").isin(named: _*) || col(partCol).isNull
      snap.filter(partPred).filter(residual)
    }
  }

  /** Hash-folding twin of [[graft.plans.BloomFilter.BloomAgg]] usable as a
    * udaf over a long column in an untyped groupBy.
    */
  final class HashBloomAgg(m: Int, k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Byte], Array[Byte]] {
    private val inner = new graft.plans.BloomFilter.BloomAgg(m, k)
    override def zero: Array[Byte] = inner.zero
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = inner.reduce(b, h)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = inner.merge(a, b)
    override def finish(r: Array[Byte]): Array[Byte] = inner.finish(r)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] = inner.bufferEncoder
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] = inner.outputEncoder
  }
}
