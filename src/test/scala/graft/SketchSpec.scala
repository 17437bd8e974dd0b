package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSketches HLL behavior the q125 operator leans on: shard-local
  * sketches merged by `hll_union_agg` estimate the same cardinality as one
  * direct sketch over the unsharded values (mergeability), and the
  * estimate sits within the audit tolerance of exact.
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vals = (1L to 20000L).map(i => (i, s"value-${i % 7321}")).toDF("id", "v")
  // 7321 distinct values

  test("hll: sharded-then-merged estimate equals the direct single-sketch estimate") {
    val direct = vals.agg(hll_sketch_estimate(hll_sketch_agg($"v")).as("est")).head().getLong(0)
    val merged = vals
      .withColumn("shard", pmod($"id", lit(8L)))
      .groupBy($"shard").agg(hll_sketch_agg($"v").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est")).head().getLong(0)
    assert(merged == direct, s"merge must not lose information: direct=$direct merged=$merged")
  }

  test("hll: estimate within the 5% audit tolerance of exact") {
    val est = vals.agg(hll_sketch_estimate(hll_sketch_agg($"v")).as("est")).head().getLong(0)
    assert(math.abs(est - 7321L) <= 7321L * 0.05, s"estimate $est vs exact 7321")
  }

  // ---- q165: persisted sketch rollup ----

  import graft.sources.VersionedTable

  private def rollupRows(days: Seq[Int]) =
    days.flatMap(d => (1L to 50L).map(u => (f"2024-01-$d%02d", s"t${u % 2}", d * 1000L + u % 37)))
      .toDF("day", "event_type", "user_id")

  private def sketchByDay(df: org.apache.spark.sql.DataFrame) =
    df.groupBy($"day", $"event_type").agg(hll_sketch_agg($"user_id").as("sk"))

  test("rollup: incremental day append carries prior day partitions forward untouched") {
    val path = java.nio.file.Files.createTempDirectory("rollup").toString + "/t"
    val v1 = VersionedTable.commitDelta(spark, path, sketchByDay(rollupRows(Seq(1, 2))), "day")
    val m1 = VersionedTable.partitionMap(spark, path, v1).get
    val v2 = VersionedTable.commitDelta(spark, path, sketchByDay(rollupRows(Seq(3))), "day")
    val m2 = VersionedTable.partitionMap(spark, path, v2).get
    assert(m2("2024-01-01") == m1("2024-01-01") && m2("2024-01-02") == m1("2024-01-02"),
      "a new day's commit must not rewrite prior day partitions")
    assert(m2("2024-01-03") == v2)
  }

  test("rollup: merging STORED sketch bytes across days equals the one-shot sketch over the union") {
    val path = java.nio.file.Files.createTempDirectory("rollup").toString + "/t"
    val rows = rollupRows(Seq(1, 2, 3))
    VersionedTable.commitDelta(spark, path, sketchByDay(rows), "day")
    val merged = VersionedTable.readPartitionsUnioned(spark, path, Seq("2024-01-01", "2024-01-02")).get
      .groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
      .orderBy($"event_type").collect().map(r => r.getString(0) -> r.getLong(1))
    val oneShot = rows.filter($"day" <= "2024-01-02")
      .groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est"))
      .orderBy($"event_type").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(merged.sameElements(oneShot),
      s"stored-sketch merge must equal the direct sketch: ${merged.toSeq} vs ${oneShot.toSeq}")
  }

  test("rollup: a range touching uncommitted days prunes them from the manifest, not at runtime") {
    val path = java.nio.file.Files.createTempDirectory("rollup").toString + "/t"
    VersionedTable.commitDelta(spark, path, sketchByDay(rollupRows(Seq(1))), "day")
    val range = VersionedTable.readPartitionsUnioned(spark, path, Seq("2024-01-01", "2024-01-09"))
    assert(range.get.select($"day").distinct().as[String].collect().toSeq == Seq("2024-01-01"))
    assert(VersionedTable.readPartitionsUnioned(spark, path, Seq("2024-01-09")).isEmpty,
      "missing day must resolve to None from the manifest (no file listing, no error)")
  }

  import graft.plans.BloomFilter

  test("bloom: the 3 probe positions are always distinct and in range") {
    val m = 1 << 18
    Seq(0L, 1L, 262143L, 262144L, (1L << 60) - 1, 987654321098765L).foreach { h =>
      val ps = (0 until 3).map(BloomFilter.position(h, m, _))
      assert(ps.distinct.size == 3 && ps.forall(p => p >= 0 && p < m), s"h=$h -> $ps")
    }
  }

  test("bloom: distributed build contains every inserted hash; partial merge equals one-shot build") {
    val m = 1 << 12
    val hashes = (1L to 500L).map(i => graft.plans.Md5Prefix60.hash(s"gram-$i".getBytes))
    val bits = BloomFilter.build(spark.createDataset(hashes).repartition(8), m, 3)
    assert(hashes.forall(BloomFilter.contains(bits, m, 3, _)), "no false negatives, ever")
    val oneShot = BloomFilter.build(spark.createDataset(hashes).coalesce(1), m, 3)
    assert(bits.sameElements(oneShot), "OR-merge of partition partials must equal the single-partition build")
  }

  test("bloom: containsColumn (codegen) agrees with the scala probe, false positives included") {
    val m = 1 << 12
    val inserted = (1L to 300L).map(i => graft.plans.Md5Prefix60.hash(s"in-$i".getBytes))
    val bits = BloomFilter.build(spark.createDataset(inserted), m, 3)
    val probes = (1L to 2000L).map(i => graft.plans.Md5Prefix60.hash(s"probe-$i".getBytes)) ++ inserted
    val got = spark.createDataset(probes).toDF("h")
      .withColumn("hit", BloomFilter.containsColumn(bits, m, 3, $"h"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probes.foreach { h => assert(got(h) == BloomFilter.contains(bits, m, 3, h)) }
    // a small filter probed 2000 times must show SOME false positives —
    // proving the determinism contract matters (the oracle replays them)
    val fp = probes.filterNot(inserted.contains).count(got(_))
    assert(fp > 0, "expected false positives at m=4096, n=300, k=3")
  }
}
