package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, VersionedTable}

/** Per-partition bloom index: pruning actually skips partitions, lookups
  * stay row-exact, and the index pins the version it was built at.
  */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): (String, String) = {
    val base = Files.createTempDirectory("bloomidx").toString
    // 4 buckets by id%4; the lookup column `name` is unrelated to layout
    val df = (0L until 400L).map(i => (i, s"name-$i", s"b${i % 4}")).toDF("id", "name", "cb")
    VersionedTable.commitDelta(spark, s"$base/t", df, "cb")
    BloomIndex.build(spark, s"$base/t", s"$base/i", "name", m = 1 << 14, k = 3)
    (s"$base/t", s"$base/i")
  }

  test("prunePlan: present keys scan exactly their buckets, absent keys skip everything") {
    val (_, idx) = freshTable()
    // name-7 lives in bucket b3, name-100 in b0
    val (scan, skip) = BloomIndex.prunePlan(spark, idx, Seq("name-7", "name-100"))
    assert(scan.contains("b3") && scan.contains("b0"), s"scan=$scan")
    assert(scan.size < 4, s"pruning must skip at least one bucket, scanned $scan")
    assert((scan ++ skip).sorted === Seq("b0", "b1", "b2", "b3"))
    val (scanNone, skipNone) = BloomIndex.prunePlan(spark, idx, Seq("no-such-key-xyz"))
    assert(scanNone.size <= 1, s"an absent key should prune (almost) everything, scanned $scanNone") // FP tolerance
    assert(scanNone.size + skipNone.size === 4)
  }

  test("lookup is row-exact and equals the plain filter") {
    val (t, idx) = freshTable()
    val keys = Seq("name-7", "name-100", "name-399", "absent")
    val got = BloomIndex.lookup(spark, idx, keys)
      .select(col("id")).as[Long].collect().sorted.toSeq
    val want = VersionedTable.read(spark, t)
      .filter(col("name").isin(keys: _*)).select(col("id")).as[Long].collect().sorted.toSeq
    assert(got === want && got === Seq(7L, 100L, 399L))
  }

  test("the index pins its build version: rows committed later are invisible to lookups") {
    val (t, idx) = freshTable()
    val extra = Seq((1000L, "name-late", "b0")).toDF("id", "name", "cb")
    VersionedTable.commitDelta(spark, t, extra, "cb")
    assert(BloomIndex.lookup(spark, idx, Seq("name-late")).count() === 0L,
      "a lookup through a v-pinned index must not see post-build commits")
    assert(VersionedTable.read(spark, t).filter(col("name") === "name-late").count() === 1L)
  }

  test("distributed prune (over budget) decides identically to the driver-side path") {
    val base = Files.createTempDirectory("bloomidx").toString
    // 64 partitions — small enough to test, forced over budget below
    val df = (0L until 640L).map(i => (i, s"name-$i", s"b${i % 64}")).toDF("id", "name", "cb")
    VersionedTable.commitDelta(spark, s"$base/t", df, "cb")
    BloomIndex.build(spark, s"$base/t", s"$base/i", "name", m = 1 << 14, k = 3)
    val keys = Seq("name-7", "name-100", "name-639", "absent-1", "absent-2")
    val (scanD, skipD) = BloomIndex.prunePlan(spark, s"$base/i", keys) // driver mode (64 <= 4096)
    val (scanX, skipX) = BloomIndex.prunePlan(spark, s"$base/i", keys, driverBudgetParts = 1) // forced distributed
    assert(scanD === scanX && skipD === skipX,
      s"prune modes disagree: driver=($scanD,$skipD) distributed=($scanX,$skipX)")
    assert(scanD.nonEmpty && skipD.nonEmpty)
  }

  test("null partition values cannot reach the index: commitDelta refuses them upstream") {
    // ADVICE r12 flagged a potential NPE on a null 'part' row. The real
    // guard is layered: (1) commitDelta refuses null partition values at
    // the table boundary — asserted here — so a versioned table can never
    // hold one; (2) build still coalesces to BloomIndex.NullPart and
    // lookup translates the sentinel to an isNull disjunct, so even a
    // hypothetical future table source with null partitions would get a
    // total index instead of an NPE'd sort + silently unmatchable isin.
    val base = Files.createTempDirectory("bloomidx").toString
    val df = Seq(
      (1L, "name-a", "b0"),
      (3L, "name-null", null.asInstanceOf[String])
    ).toDF("id", "name", "cb")
    val e = intercept[Exception](VersionedTable.commitDelta(spark, s"$base/t", df, "cb"))
    assert(e.getMessage.contains("must not be NULL"), s"unexpected failure mode: ${e.getMessage}")
  }

  test("NullPart sentinel value survives the source de-binarization (leading NUL intact)") {
    // the literal is now a unicode ESCAPE, not a raw byte, so the file
    // stays text for git/grep/COPYCHECK — this pins the runtime value
    assert(BloomIndex.NullPart.charAt(0) === 0.toChar)
    assert(BloomIndex.NullPart === 0.toChar + "__NULL_PARTITION__")
  }
}
