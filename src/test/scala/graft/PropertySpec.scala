package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Fernet
import graft.operators.{Dedup, Scd2}

/** Property-based invariants (SURVEY.md §5): SCD-2 active-uniqueness,
  * idempotence and equality with the multi-scan reference forms, the
  * versioned table against an in-memory model, explode cardinality,
  * encrypt-then-decrypt identity, Jaccard bounds/symmetry.
  * Deterministic seeds (no scalatest-scalacheck bridge in
  * the offline cache, so generators are sampled directly).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val now = lit("2024-06-01 00:00:00").cast("timestamp")

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("SCD-2: exactly one active version per batch key, any inputs") {
    val keyGen = Gen.nonEmptyListOf(Gen.choose(1, 4)) // small key space forces collisions
    samples(Gen.zip(keyGen, keyGen), 20).foreach { case (targetKeys, batchKeys) =>
      val target = targetKeys.distinct.map(k => (s"k$k", s"v$k", "Y"))
        .toDF("bkey", "payload", "actv_flg")
        .withColumn("record_to", lit(null).cast("timestamp"))
      val batch = batchKeys.distinct.map(k => (s"k$k", s"new$k")).toDF("bkey", "payload")
      val out = Scd2.upsert(target, batch, Seq("bkey"), now)
      val actives = out.filter($"actv_flg" === "Y").groupBy("bkey").count().collect()
      assert(actives.forall(_.getLong(1) == 1), s"targets=$targetKeys batch=$batchKeys")
      val activeByKey = out.filter($"actv_flg" === "Y").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      batchKeys.distinct.foreach(k => assert(activeByKey(s"k$k") == s"new$k"))
    }
  }

  test("SCD-2 idempotence: re-upserting the same batch adds exactly one closed version per key") {
    val target = Seq(("a", "v0", "Y")).toDF("bkey", "payload", "actv_flg")
      .withColumn("record_to", lit(null).cast("timestamp"))
    val batch = Seq(("a", "v1")).toDF("bkey", "payload")
    val once = Scd2.upsert(target, batch, Seq("bkey"), now)
    val twice = Scd2.upsert(once, batch, Seq("bkey"), now)
    assert(twice.count() == once.count() + 1)
    assert(twice.filter($"actv_flg" === "Y").count() == 1)
  }

  // The three-scan upsert the one-scan form replaced, kept as the reference
  // model: inactive rows, semi-joined active rows (closed) and anti-joined
  // active rows (untouched), then the inserted batch.
  private def upsertThreeScan(target: DataFrame, batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = batch.select(keyCols.map(col): _*).distinct()
    val active = target.filter($"actv_flg" === "Y")
    val closed = active.join(keys, keyCols, "left_semi").withColumn("actv_flg", lit("N")).withColumn("record_to", now)
    target.filter($"actv_flg" =!= "Y" || $"actv_flg".isNull)
      .unionByName(closed)
      .unionByName(active.join(keys, keyCols, "left_anti"))
      .unionByName(inserted(batch), allowMissingColumns = true)
  }

  // The four-scan two-key form, the reference model of upsertTwoKeyInLists.
  private def upsertFourScan(target: DataFrame, batch: DataFrame, key1: String, key2: String): DataFrame = {
    val k1 = batch.select(key1).distinct()
    val k2 = batch.select(key2).distinct()
    val active = target.filter($"actv_flg" === "Y")
    val closed = active.join(k1, Seq(key1), "left_semi").join(k2, Seq(key2), "left_semi")
      .withColumn("actv_flg", lit("N")).withColumn("record_to", now)
    val untouched = active.join(k1, Seq(key1), "left_anti")
      .unionByName(active.join(k1, Seq(key1), "left_semi").join(k2, Seq(key2), "left_anti"))
    target.filter($"actv_flg" =!= "Y" || $"actv_flg".isNull)
      .unionByName(closed)
      .unionByName(untouched)
      .unionByName(inserted(batch), allowMissingColumns = true)
  }

  private def inserted(batch: DataFrame): DataFrame =
    batch.withColumn("actv_flg", lit("Y")).withColumn("record_to", lit(null).cast("timestamp"))

  test("SCD-2 one-scan upserts equal the three-scan and four-scan reference forms") {
    // small key spaces force hits, misses and duplicate batch keys; None is
    // a NULL key or a NULL actv_flg
    val key = Gen.option(Gen.choose(1, 4))
    val targetRow = for {
      k1 <- key; k2 <- key
      flg <- Gen.oneOf(Some("Y"), Some("N"), None)
      closedBefore <- Gen.oneOf(true, false)
    } yield (k1, k2, flg, closedBefore)
    val cases = for {
      nt <- Gen.choose(0, 12)
      target <- Gen.listOfN(nt, targetRow)
      nb <- Gen.choose(1, 6)
      batch <- Gen.listOfN(nb, Gen.zip(key, key))
      widens <- Gen.oneOf(true, false) // the batch adds a column the target lacks
    } yield (target, batch, widens)
    val drawn = samples(cases, 24)
    // the drawn cases cover every shape the property is about
    val targets = drawn.flatMap(_._1)
    assert(targets.exists(_._1.isEmpty) && drawn.exists(_._2.exists(_._1.isEmpty)), "NULL keys")
    assert(targets.exists(_._3.isEmpty) && targets.exists(_._3.contains("N")), "NULL and 'N' actv_flg")
    assert(drawn.exists(d => d._2.map(_._1).distinct.size < d._2.size), "duplicate batch keys")
    assert(drawn.exists(_._3) && drawn.exists(!_._3), "widening and non-widening batches")

    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    drawn.zipWithIndex.foreach { case ((tRows, bRows, widens), i) =>
      val target = tRows.zipWithIndex.map { case ((k1, k2, flg, closedBefore), j) =>
        (k1, k2, s"t$j", flg, if (closedBefore) Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) else None)
      }.toDF("k1", "k2", "payload", "actv_flg", "record_to")
      val b0 = bRows.zipWithIndex.map { case ((k1, k2), j) => (k1, k2, s"b$j") }.toDF("k1", "k2", "payload")
      val batch = if (widens) b0.withColumn("extra", lit("x")) else b0
      val ctx = s"case $i: target=$tRows batch=$bRows widens=$widens"

      val one = Scd2.upsert(target, batch, Seq("k1"), now)
      val ref = upsertThreeScan(target, batch, Seq("k1"))
      assert(one.columns.toSeq == ref.columns.toSeq, ctx)
      assert(rows(one) == rows(ref), ctx)
      val two = Scd2.upsertTwoKeyInLists(target, batch, "k1", "k2", now)
      val ref2 = upsertFourScan(target, batch, "k1", "k2")
      assert(two.columns.toSeq == ref2.columns.toSeq, ctx)
      assert(rows(two) == rows(ref2), ctx)
    }
  }

  // One step of the versioned-table model test.
  private sealed trait VtStep
  private final case class VtWrite(parts: Map[String, Set[Long]]) extends VtStep
  private final case class VtDeleteWhere(parts: Seq[String], below: Long) extends VtStep
  private final case class VtDeleteKeys(keys: Set[Long]) extends VtStep
  private case object VtCompact extends VtStep
  private final case class VtVacuum(retain: Int) extends VtStep
  private case object VtNullPartition extends VtStep
  private final case class VtStaleBase(pick: Int) extends VtStep

  test("versioned table: seeded operation sequences match an in-memory model at every servable version") {
    import java.nio.file.Files
    import graft.sources.VersionedTable
    type Model = Map[String, Map[Long, String]] // manifest partition -> visible k -> v
    val keys = Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, 5L))
    val write = for {
      n <- Gen.choose(1, 3) // one partition, or several touched buckets
      ps <- Gen.pick(n, Seq("a", "b", "c"))
      ks <- Gen.listOfN(n, keys)
    } yield VtWrite(ps.toSeq.zip(ks).toMap)
    val step: Gen[VtStep] = Gen.frequency(
      5 -> write,
      2 -> Gen.zip(Gen.nonEmptyContainerOf[Set, String](Gen.oneOf("a", "b", "c")), Gen.choose(0L, 6L))
        .map { case (ps, below) => VtDeleteWhere(ps.toSeq.sorted, below) },
      2 -> keys.map(VtDeleteKeys),
      1 -> Gen.const(VtCompact),
      1 -> Gen.choose(1, 3).map(VtVacuum),
      1 -> Gen.const(VtNullPartition),
      1 -> Gen.choose(0, 99).map(VtStaleBase))
    val sequences = samples(Gen.choose(1, 12).flatMap(Gen.listOfN(_, step)), 100)
    assert(sequences.size == 100)

    def rows(m: Model): Set[(String, Long, String)] = m.toSeq.flatMap { case (p, kv) => kv.map { case (k, v) => (p, k, v) } }.toSet
    def feed(a: Model, b: Model): Set[(String, Long, String, String)] = {
      val (ra, rb) = (rows(a).map(r => (r._1, r._2) -> r._3).toMap, rows(b).map(r => (r._1, r._2) -> r._3).toMap)
      (ra.keySet ++ rb.keySet).toSeq.flatMap { pk =>
        (ra.get(pk), rb.get(pk)) match {
          case (Some(x), None) => Seq((pk._1, pk._2, x, "delete"))
          case (None, Some(y)) => Seq((pk._1, pk._2, y, "insert"))
          case (Some(x), Some(y)) if x != y => Seq((pk._1, pk._2, x, "update_preimage"), (pk._1, pk._2, y, "update_postimage"))
          case _ => Nil
        }
      }.toSet
    }

    // sequences run four at a time, each on its own table
    def check(steps: List[VtStep], seq: Int): Unit = {
      val path = Files.createTempDirectory("graft-vt-model").toString + "/t"
      var history = Vector.empty[Model] // the model at version v is history(v - 1)
      var vacuumedAt = 0L // the latest version when vacuum last ran
      var fedPairs = Set.empty[(Long, Long)] // adjacent versions whose feed matched
      def current: Model = history.lastOption.getOrElse(Map.empty)
      def latest: Long = history.size.toLong
      steps.zipWithIndex.foreach { case (s, i) =>
        val ctx = s"sequence $seq step $i ($s) of ${steps.mkString(", ")}"
        def commits(next: Model)(run: => Long): Unit = {
          assert(run == latest + 1, s"$ctx: versions must be gap-free")
          history :+= next
        }
        def refused[E <: Throwable](run: => Any)(implicit ct: scala.reflect.ClassTag[E]): Unit = {
          intercept[E](run)
          assert(VersionedTable.latestVersion(spark, path) == Some(latest).filter(_ > 0), s"$ctx: a refusal must not publish")
        }
        s match {
          case VtWrite(parts) =>
            val df = parts.toSeq.flatMap { case (p, ks) => ks.toSeq.map(k => (k, s"s$i", p)) }.toDF("k", "v", "p")
            commits(current ++ parts.map { case (p, ks) => p -> ks.map(_ -> s"s$i").toMap })(
              VersionedTable.commitDelta(spark, path, df, "p"))
          case VtDeleteWhere(parts, below) =>
            def run = VersionedTable.deleteWhere(spark, path, "p", parts, col("k") < below)
            if (!parts.exists(current.contains)) refused[IllegalArgumentException](run)
            else commits(parts.foldLeft(current) { (m, p) =>
              m.get(p).map(_.filter(_._1 >= below)).fold(m)(kept => if (kept.isEmpty) m - p else m + (p -> kept))
            })(run)
          case VtDeleteKeys(doomed) =>
            def run = VersionedTable.deleteKeysDeferred(spark, path, doomed.toSeq.toDF("k"), Seq("k"))
            if (history.isEmpty) refused[IllegalArgumentException](run)
            else commits(current.map { case (p, kv) => p -> kv.filter(kv => !doomed(kv._1)) })(run)
          case VtCompact =>
            def run = VersionedTable.compact(spark, path, "p")
            if (history.isEmpty) refused[IllegalArgumentException](run)
            else commits(current.filter(_._2.nonEmpty))(run)
          case VtVacuum(retain) =>
            VersionedTable.vacuum(spark, path, retainVersions = retain, orphanGraceMs = 0)
            vacuumedAt = latest
          case VtNullPartition =>
            refused[Exception](VersionedTable.commitDelta(spark, path,
              Seq((1L, "x", null.asInstanceOf[String])).toDF("k", "v", "p"), "p"))
          case VtStaleBase(pick) =>
            // a base overtaken since it was read, taken after the last vacuum
            // (a grace-0 vacuum promises that no attempt is in flight)
            val bases = (vacuumedAt until latest).toSeq
            if (bases.nonEmpty) {
              val b = bases(pick % bases.size)
              val base = if (b == 0) None else Some(VersionedTable.Snapshot.at(spark, path, b))
              refused[java.util.ConcurrentModificationException](VersionedTable.commitDeltaOn(
                spark, path, base, Seq((9L, "stale", "a")).toDF("k", "v", "p"), "p"))
            }
        }
        // the log: versions 1..latest, the latest always servable
        if (history.nonEmpty) {
          val committed = VersionedTable.committedVersionsPublic(spark, path).sorted
          assert(committed.last == latest && committed.forall(v => v >= 1 && v <= latest), s"$ctx: log $committed")
          val servable = VersionedTable.servableSnapshots(spark, path).map(_.version)
          assert(servable.last == latest, ctx)
          // the read at every servable version, and the change feed between
          // adjacent ones (once per pair: a pair's feed can only change by
          // losing data, which the reads see), in one job
          val pairs = servable.sliding(2).collect { case Seq(a, b) => (a, b) }.filterNot(fedPairs).toSeq
          val reads = servable.map(v => VersionedTable.read(spark, path, Some(v))
            .select(lit(v).as("ver"), lit("read").as("kind"), col("p"), col("k"), col("v")))
          val feeds = pairs.map { case (a, b) =>
            VersionedTable.changeFeed(spark, path, a, b, Seq("p", "k"))
              .select(lit(b).as("ver"), col("_change_type").as("kind"), col("p"), col("k"), col("v"))
          }
          val got = (reads ++ feeds).reduce(_.unionByName(_)).as[(Long, String, String, Long, String)].collect()
          servable.foreach { v =>
            val read = got.filter(r => r._1 == v && r._2 == "read").map(r => (r._3, r._4, r._5)).toSet
            assert(read == rows(history(v.toInt - 1)), s"$ctx: read at $v")
          }
          pairs.foreach { case (a, b) =>
            val fed = got.filter(r => r._1 == b && r._2 != "read").map(r => (r._3, r._4, r._5, r._2)).toSet
            assert(fed == feed(history(a.toInt - 1), history(b.toInt - 1)), s"$ctx: changeFeed $a -> $b")
          }
          fedPairs ++= pairs
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try sequences.zipWithIndex
      .map { case (steps, seq) => pool.submit((() => check(steps, seq)): java.util.concurrent.Callable[Unit]) }
      .foreach(_.get())
    finally pool.shutdownNow()
  }

  test("explode cardinality = sum of list lengths (empty lists drop rows)") {
    val listsGen = Gen.listOfN(8, Gen.listOf(Gen.alphaStr.map(_.take(4))))
    samples(listsGen, 10).foreach { lists =>
      val df = lists.zipWithIndex.map { case (l, i) => (i, l) }.toDF("id", "xs")
      val exploded = graft.operators.Transform.extendColumnsInRows(df, "xs")
      assert(exploded.count() == lists.map(_.size).sum)
    }
  }

  test("Fernet: decrypt(encrypt(x)) == x for arbitrary strings") {
    val kb = Fernet.decodeKey(Fernet.generateKey())
    samples(Gen.asciiPrintableStr, 50).foreach { s =>
      assert(new String(Fernet.decrypt(kb, Fernet.encrypt(kb, s.getBytes("UTF-8"))), "UTF-8") == s)
    }
  }

  test("Jaccard: bounded [0,1], symmetric, 1 on self") {
    val setGen = Gen.nonEmptyListOf(Gen.choose(1, 20)).map(_.distinct.map(_.toString))
    samples(Gen.zip(setGen, setGen), 15).foreach { case (xs, ys) =>
      val df = Seq((xs, ys)).toDF("a", "b")
      val j1 = df.select(Dedup.jaccard($"a", $"b")).head().getDouble(0)
      val j2 = df.select(Dedup.jaccard($"b", $"a")).head().getDouble(0)
      assert(j1 >= 0.0 && j1 <= 1.0)
      assert(math.abs(j1 - j2) < 1e-12)
      val self = df.select(Dedup.jaccard($"a", $"a")).head().getDouble(0)
      assert(self == 1.0)
    }
  }
}
