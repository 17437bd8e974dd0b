package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identity, orthogonality, opposition") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
    assert(math.abs(out(2) + 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine desc") {
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f), 3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
  }

  test("lshTopK achieves good recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 10, dim = 64, nBits = 4, tables = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("ivfCell partitions every vector into exactly one cell; probe recall is sane") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    // total partition: every vector lands in exactly one valid cell
    val cells = emb.select(Similarity.ivfCell($"embedding", centroids).as("cell"))
    assert(cells.filter($"cell".isNull || $"cell" < 0 || $"cell" >= 8).count() == 0)
    assert(cells.count() == emb.count())
    // a centroid's own vector is assigned to its own cell (distance 0)
    val own = emb.filter($"vec_id" < 8)
      .select($"vec_id", Similarity.ivfCell($"embedding", centroids).as("cell"))
      .collect()
    own.foreach(r => assert(r.getLong(0) == r.getLong(1), s"centroid ${r.getLong(0)} assigned to ${r.getLong(1)}"))
    // probing ALL cells degenerates to exact brute-force ranking
    val q = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val allProbe = Similarity.ivfTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 10, centroids, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(allProbe == exact)
  }

  test("trainIvfCentroids: iters = 1 trains on the hash sample, not the full corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    val p = graft.operators.Sampling.hashBucket($"vec_id", 4) === 0
    val sampled = Similarity.trainIvfCentroids(emb, "embedding", init, iters = 1, sample = Some(p))
    val onFiltered = Similarity.trainIvfCentroids(emb.filter(p), "embedding", init, iters = 1)
    assert(sampled == onFiltered)
    // not vacuous: the sample trains to different centroids than the corpus
    assert(onFiltered != Similarity.trainIvfCentroids(emb, "embedding", init, iters = 1))
  }

  test("trainIvfCentroids: deterministic, SSE non-increasing, balance and recall not worse than untrained") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    val trained = Similarity.trainIvfCentroids(emb, "embedding", init, iters = 3)
    // bit-exact determinism: retrain (different plan instance, same data)
    val trained2 = Similarity.trainIvfCentroids(emb.repartition(7), "embedding", init, iters = 3)
    assert(trained == trained2, "k-means result depends on partitioning — quantized accumulation broken")

    // SSE(trained) <= SSE(init): Lloyd's iterations never increase the objective
    val all = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def sse(cs: Seq[(Long, Seq[Double])]): Double =
      all.map { case (_, v) =>
        cs.map { case (_, c) => v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum }.min
      }.sum
    val sseInit = sse(init)
    val sseTrained = sse(trained)
    assert(sseTrained <= sseInit * (1.0 + 1e-9), s"SSE rose under training: $sseInit -> $sseTrained")

    // cell balance: k-means minimizes SSE, not balance, so the largest cell
    // may wobble by a row or two — but training must not *degrade* balance
    // materially vs the untrained seed (the 100 TB failure mode the trainer
    // exists to prevent is pathological concentration)
    def maxCell(cs: Seq[(Long, Seq[Double])]): Long =
      emb.select(Similarity.ivfCell($"embedding", cs).as("cell"))
        .groupBy($"cell").count().agg(max($"count")).head().getLong(0)
    val (mcT, mcI) = (maxCell(trained), maxCell(init))
    assert(mcT <= math.ceil(mcI * 1.10).toLong, s"trained max cell $mcT vs untrained $mcI — balance degraded >10%")

    // recall vs brute force at nprobe=3 must not drop below the untrained quantizer's
    val q = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val rest = emb.filter($"vec_id" =!= 0)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    def recall(cs: Seq[(Long, Seq[Double])]): Double = {
      val got = Similarity.ivfTopK(rest, "vec_id", "embedding", q, 10, cs, nprobe = 3)
        .collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / exact.size
    }
    val rTrained = recall(trained)
    val rInit = recall(init)
    assert(rTrained >= rInit, s"trained recall $rTrained below untrained $rInit")
  }

  test("IVF cell-partitioned storage: a probe reads only its nprobe partitions") {
    // the at-rest layout SCALE.md claims for IVF: store the table
    // delta-committed partitioned by cell id, so a probe is a pruned
    // readPartitionsUnioned of nprobe dirs — never a full scan
    import graft.sources.VersionedTable
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", init, iters = 2)

    val path = java.nio.file.Files.createTempDirectory("graft-ivfstore").toString + "/t"
    val celled = emb.withColumn("cell", Similarity.ivfCell($"embedding", centroids).cast("string"))
    VersionedTable.commitDelta(spark, path, celled, "cell")

    val q = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val probe = Similarity.ivfProbeCells(q, centroids, nprobe = 3)
    val pruned = VersionedTable.readPartitionsUnioned(spark, path, probe.map(_.toString))
    assert(pruned.nonEmpty)
    val prunedRows = pruned.get.count()
    val cellSizes = celled.groupBy($"cell").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the pruned read returns exactly the probed cells' rows — nothing else
    assert(prunedRows == probe.map(c => cellSizes.getOrElse(c.toString, 0L)).sum)
    assert(prunedRows < emb.count(), "probe read the whole table — pruning is not happening")

    // and ranking over the pruned read == ivfTopK over the full table
    val fromStore = pruned.get
    val qArr = array(q.map(v => lit(v.toDouble)): _*)
    val viaStore = fromStore.filter($"vec_id" =!= 0)
      .select($"vec_id", Similarity.cosine(transform($"embedding", _.cast("double")), qArr).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id".asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val viaScan = Similarity.ivfTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 10, centroids, nprobe = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(viaStore == viaScan)
  }

  test("semanticDedup: planted duplicate drops, keeper is the lower id, dissimilar rows survive") {
    // 4-dim toy space with 2 centroids: cells {x-axis-ish} and {y-axis-ish}
    val centroids = Seq(0L -> Seq(1.0, 0.0, 0.0, 0.0), 1L -> Seq(0.0, 1.0, 0.0, 0.0))
    val df = Seq(
      (10L, Seq(1.0f, 0.05f, 0.0f, 0.0f)), // cell 0
      (11L, Seq(1.0f, 0.06f, 0.0f, 0.0f)), // near-dup of 10 -> dropped (higher id)
      (12L, Seq(0.1f, 0.0f, 1.0f, 0.0f)), // cell 0 but dissimilar -> kept
      (20L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), // cell 1
      (21L, Seq(0.0f, -1.0f, 0.1f, 0.0f)) // anti-parallel to c1 => NEARER c0; dissimilar in cell 0 -> kept
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding", centroids, minCosine = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet == Set(10L, 12L, 20L, 21L), s"kept ${kept.keySet}")
    assert(kept(10L) == 0L && kept(12L) == 0L && kept(20L) == 1L && kept(21L) == 0L)
    // near-dups in DIFFERENT cells are not compared (the SemDeDup trade):
    // an identical pair split across cells survives — cells bound the work
    val split = Seq(
      (1L, Seq(1.0f, 1.0f, 0.0f, 0.0f)), // equidistant-ish; lands cell 0 (tie->lower cid)
      (2L, Seq(0.99f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    assert(Similarity.semanticDedup(split, "vec_id", "embedding", centroids, minCosine = 0.99).count() >= 1)
  }

  test("semanticDedup: cell-size guard refuses a quadratic parameterization, override allows it") {
    // one centroid -> everything lands in a single cell of 6 rows
    val centroids = Seq(0L -> Seq(1.0, 0.0, 0.0, 0.0))
    val df = (1 to 6).map(i => (i.toLong, Seq(1.0f, i * 0.01f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(df, "vec_id", "embedding", centroids, minCosine = 0.9, maxCellRows = 5L)
    }
    assert(e.getMessage.contains("maxCellRows"), s"guard message unhelpful: ${e.getMessage}")
    // explicit budget >= the fattest cell runs fine (small-fixture override)
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding", centroids, minCosine = 0.9, maxCellRows = 6L)
    assert(kept.count() >= 1)
  }

  test("lshBucket is deterministic and balanced-ish") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val buckets = emb.select(Similarity.lshBucket($"embedding", 64, 8).as("b"))
    val n = buckets.select(countDistinct($"b")).head().getLong(0)
    assert(n > 32, s"only $n distinct buckets out of 256")
    // deterministic across evaluations
    val a = buckets.collect().map(_.getLong(0)).toSeq
    val b = emb.select(Similarity.lshBucket($"embedding", 64, 8)).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("withSq8: 1-byte-per-dim binary codes, |x - code*s| <= s/2, zero vector safe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.withSq8(emb, "embedding")
    val rows = q.select($"embedding", $"sq8_scale", $"sq8_codes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vec = r.getSeq[Float](0)
      val s = r.getDouble(1)
      val codes = r.getAs[Array[Byte]](2)
      assert(codes.length == vec.length, "one byte per dimension")
      if (s > 0) vec.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c.toDouble * s) <= s / 2 + 1e-12,
          s"quantization error past the half-step bound: x=$x c=$c s=$s")
      }
    }
    // all-zero vector: scale 0, zero codes, no NaN poisoning
    val z = Similarity.withSq8(
      Seq((1L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding"), "embedding")
      .select($"sq8_scale", $"sq8_codes").head()
    assert(z.getDouble(0) == 0.0 && z.getAs[Array[Byte]](1).forall(_ == 0))
  }

  test("sq8TopK: asymmetric int8 scoring ranks close to exact; kernel matches unpacked DotProduct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", qvec, 20)
      .collect().map(_.getLong(0)).toSet
    val sq8 = Similarity.sq8TopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", qvec, 20)
      .collect().map(_.getLong(0)).toSet
    // int8 keeps ~1% quantization error per dim: the top-20 should mostly
    // agree with the exact ranking (deterministic on the fixed fixture).
    // NOTE sq8TopK ranks by raw dot, bruteForceTopK by cosine — on this
    // fixture the norm spread is small enough for overlap to hold.
    assert((exact & sq8).size >= 12, s"recall too low: ${(exact & sq8).size}/20")
    // kernel parity: binary-codes dot == DotProduct over unpacked int codes
    val q = array(qvec.map(v => lit(v.toDouble)): _*)
    val both = Similarity.withSq8(emb, "embedding")
      .withColumn("__codes_int",
        when($"sq8_scale" === 0, transform($"embedding", _ => lit(0)))
          .otherwise(transform($"embedding", x => floor(x.cast("double") / $"sq8_scale" + lit(0.5)).cast("int"))))
      .select(
        graft.plans.VectorExpressions.dotSq8(q, $"sq8_codes").as("a"),
        graft.plans.VectorExpressions.dotNative(q, $"__codes_int").as("b"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "packed vs unpacked fold diverged"))
  }

  test("ivfSq8TopK: cell pruning composes with int8 scoring; candidates are a strict subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val corpus = emb.filter($"vec_id" =!= 0)
    val composed = Similarity.ivfSq8TopK(corpus, "vec_id", "embedding", qvec, 20, centroids, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    // every result must come from the probed cells (pruning really applied)
    val probe = Similarity.ivfProbeCells(qvec, centroids, 3).toSet
    val cellsOf = corpus
      .select($"vec_id", Similarity.ivfCell($"embedding", centroids).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(composed.forall(id => probe.contains(cellsOf(id))))
    // and the scoring half agrees with unpruned SQ8 on the shared candidates:
    // composed top-k restricted to probed cells == sq8 ranking of that subset
    val subset = corpus.filter(Similarity.ivfCell($"embedding", centroids).isin(probe.toSeq: _*))
    val direct = Similarity.sq8TopK(subset, "vec_id", "embedding", qvec, 20)
      .collect().map(_.getLong(0)).toSet
    assert(composed == direct)
  }

  test("NearestCentroid kernel is bit-identical to the struct/array_sort formulation (incl. offsets)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    // whole-vector assignment: kernel == struct formulation on every row
    val diff = emb.select(
      Similarity.ivfCell($"embedding", centroids).as("fast"),
      Similarity.ivfCellStruct($"embedding", centroids).as("slow"))
      .filter($"fast" =!= $"slow")
      .count()
    assert(diff == 0, s"kernel diverged from struct formulation on $diff rows")
    // subspace (offset) assignment == struct formulation over an explicit slice
    val dsub = 8
    val subCbs = centroids.map { case (cid, c) => cid -> c.slice(3 * dsub, 4 * dsub) }
    val diffSub = emb.select(
      Similarity.ivfCellAt($"embedding", subCbs, 3 * dsub).as("fast"),
      Similarity.ivfCellStruct(slice($"embedding", 3 * dsub + 1, dsub), subCbs).as("slow"))
      .filter($"fast" =!= $"slow")
      .count()
    assert(diffSub == 0, s"offset kernel diverged on $diffSub rows")
    // tie-break: duplicate centroid under two ids → lower id wins, in any supply order
    val dup = Seq(5L -> centroids.head._2, 2L -> centroids.head._2)
    val tied = emb.limit(10).select(Similarity.ivfCell($"embedding", dup).as("c")).collect()
    tied.foreach(r => assert(r.getLong(0) == 2L, "tie must break to the lower centroid id"))
  }

  test("packed ADC distance == element_at chain over array codes; persisted PQ probe == inline IVF+PQ") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64; val m = 8; val dsub = dim / m
    val seeds = emb.filter($"vec_id" < 16).orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val init = (0 until m).map(j => seeds.toSeq.zipWithIndex.map { case ((_, v), pos) =>
      pos.toLong -> v.slice(j * dsub, (j + 1) * dsub) })
    val cbs = Similarity.trainPqCodebooks(emb, "embedding", dim, init, iters = 1)
    val coarse = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).sortBy(_._1).toSeq
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val corpus = emb.filter($"vec_id" =!= 0)

    // packed codes unpack to exactly the array-typed assignment
    val packedVsArray = Similarity.pqCodesPacked(corpus, "vec_id", "embedding", dim, cbs)
      .join(Similarity.pqCodes(corpus, "vec_id", "embedding", dim, cbs).withColumnRenamed("pq_codes", "arr"), "vec_id")
      .collect()
    assert(packedVsArray.nonEmpty)
    packedVsArray.foreach { r =>
      val packed = r.getAs[Array[Byte]]("pq_codes").map(_.toLong).toSeq
      val arr = r.getSeq[Long](r.fieldIndex("arr"))
      assert(packed == arr, s"vec ${r.getLong(0)}: packed $packed != array $arr")
    }

    // inline IVF+PQ == probe of the persisted index, row for row
    val inline = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", dim, coarse, cbs, qvec, nprobe = 3, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-pqidx").toString + "/idx"
    Similarity.writePqIndex(spark, corpus, "vec_id", "embedding", path, dim, coarse, cbs)
    val stored = graft.sources.VersionedTable.read(spark, path)
    assert(stored.columns.toSet == Set("vec_id", "cell", "pq_codes"), "PQ index must store codes only")
    val probed = Similarity.probePqIndex(spark, path, "vec_id", qvec, 20, dim, coarse, cbs, nprobe = 3)
    // file-level pruning proof, same contract as the SQ8 index
    val probeCells = Similarity.ivfProbeCells(qvec, coarse, 3).toSet
    val scanned = probed.inputFiles
    assert(scanned.nonEmpty && scanned.forall(f => probeCells.exists(c => f.contains(s"/p=$c/"))),
      s"probe read outside its cells: ${scanned.mkString(",")}")
    assert(probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == inline)
  }

  test("residual PQ (IVFADC): stored probe == inline, probe prunes to its cells, recall beats raw codes at equal byte budget") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64; val m = 8; val dsub = dim / m
    val coarse = emb.filter($"vec_id" < 8).orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val mu = coarse.toMap
    val seeds = emb.filter($"vec_id" < 16).orderBy($"vec_id").select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val rawInit = (0 until m).map(j => seeds.toSeq.zipWithIndex.map { case ((_, v), pos) =>
      pos.toLong -> v.map(_.toDouble).slice(j * dsub, (j + 1) * dsub).toSeq })
    val resInit = (0 until m).map { j =>
      seeds.toSeq.zipWithIndex.map { case ((_, v), pos) =>
        val c = mu(Similarity.ivfProbeCells(v, coarse, 1).head)
        pos.toLong -> (j * dsub until (j + 1) * dsub).map(i => v(i).toDouble - c(i)).toSeq
      }
    }
    val rawCbs = Similarity.trainPqCodebooks(emb, "embedding", dim, rawInit, iters = 2)
    val resCbs = Similarity.trainResidualPqCodebooks(emb, "vec_id", "embedding", dim, coarse, resInit, iters = 2)
    val corpus = emb.filter($"vec_id" =!= 0)
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)

    // inline IVFADC == probe of the persisted residual index, row for row
    val inline = Similarity.ivfPqResidualTopK(corpus, "vec_id", "embedding", dim, coarse, resCbs, qvec, nprobe = 3, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-pqres").toString + "/idx"
    Similarity.writeResidualPqIndex(spark, corpus, "vec_id", "embedding", path, dim, coarse, resCbs)
    val probed = Similarity.probeResidualPqIndex(spark, path, "vec_id", qvec, 20, dim, coarse, resCbs, nprobe = 3)
    val probeCells = Similarity.ivfProbeCells(qvec, coarse, 3).toSet
    val scanned = probed.inputFiles
    assert(scanned.nonEmpty && scanned.forall(f => probeCells.exists(c => f.contains(s"/p=$c/"))),
      s"probe read outside its cells: ${scanned.mkString(",")}")
    assert(probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == inline)

    // recall head-to-head at the SAME 8-byte code budget, on CLUSTERED
    // vectors (the data shape IVFADC exists for: residuals v − μ_cell
    // concentrate around the origin, so 16 codes/subspace cover them far
    // better than the full inter-cluster spread raw PQ must span; on
    // UNclustered uniform-random vectors residual ≈ raw − the nearest of
    // 8 arbitrary centroids removes almost no energy). Coarse pruning is
    // off (nprobe = all cells) so only code quality differs; ground
    // truth is exact squared-L2 computed locally.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, dim)(rnd.nextGaussian() * 5.0)
    val pts: Seq[(Long, Seq[Float])] = (0 until 400).map { i =>
      val c = centers(i % 8)
      i.toLong -> (0 until dim).map(d => (c(d) + rnd.nextGaussian() * 0.4).toFloat)
    }
    val cdf = pts.toDF("vec_id", "embedding")
    val cCoarse: Seq[(Long, Seq[Double])] =
      centers.toSeq.zipWithIndex.map { case (c, i) => i.toLong -> c.toSeq }
    val cMu = cCoarse.toMap
    val cSeeds = pts.take(16)
    val cRawInit = (0 until m).map(j => cSeeds.zipWithIndex.map { case ((_, v), pos) =>
      pos.toLong -> v.map(_.toDouble).slice(j * dsub, (j + 1) * dsub).toSeq })
    val cResInit = (0 until m).map { j =>
      cSeeds.zipWithIndex.map { case ((_, v), pos) =>
        val c = cMu(Similarity.ivfProbeCells(v, cCoarse, 1).head)
        pos.toLong -> (j * dsub until (j + 1) * dsub).map(i => v(i).toDouble - c(i)).toSeq
      }
    }
    val cRawCbs = Similarity.trainPqCodebooks(cdf, "embedding", dim, cRawInit, iters = 2)
    val cResCbs = Similarity.trainResidualPqCodebooks(cdf, "vec_id", "embedding", dim, cCoarse, cResInit, iters = 2)
    val byId = pts.toMap
    val (resRecall, rawRecall) = Seq(0L, 57L, 123L, 250L, 399L).map { qid =>
      val q = byId(qid)
      val rest = cdf.filter($"vec_id" =!= qid)
      val truth = pts.filter(_._1 != qid).map { case (id, v) =>
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i).toDouble - q(i).toDouble; d += t * t; i += 1 }
        (d, id)
      }.sorted.take(20).map(_._2).toSet
      val res = Similarity.ivfPqResidualTopK(rest, "vec_id", "embedding", dim, cCoarse, cResCbs, q, nprobe = 8, k = 20)
        .collect().map(_.getLong(0)).toSet
      val raw = Similarity.pqAdcTopK(rest, "vec_id", "embedding", dim, cRawCbs, q, 20)
        .collect().map(_.getLong(0)).toSet
      ((truth & res).size.toDouble / truth.size, (truth & raw).size.toDouble / truth.size)
    }.unzip
    val (avgRes, avgRaw) = (resRecall.sum / resRecall.size, rawRecall.sum / rawRecall.size)
    info(f"residual recall $avgRes%.3f vs raw recall $avgRaw%.3f (per-query res=$resRecall raw=$rawRecall)")
    assert(avgRes > avgRaw, f"residual encoding should beat raw codes on clustered data at equal bytes: $avgRes%.3f <= $avgRaw%.3f")
  }

  test("persisted IVF+SQ8 index: probe reads ONLY nprobe partitions; q98 parity on stored codes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8).select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).sortBy(_._1).toSeq
    val qvec = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val corpus = emb.filter($"vec_id" =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/idx"

    Similarity.writeIvfSq8Index(spark, corpus, "vec_id", "embedding", path, centroids)
    // the stored layout is codes-only: no float vector column at rest
    val stored = graft.sources.VersionedTable.read(spark, path)
    assert(stored.columns.toSet == Set("vec_id", "cell", "sq8_scale", "sq8_codes"))
    val nCells = stored.select($"cell").distinct().count()
    assert(nCells > 3, s"fixture must populate more cells than nprobe, got $nCells")

    val probed = Similarity.probeIvfSq8Index(spark, path, "vec_id", qvec, 20, centroids, nprobe = 3)
    // file-level pruning proof: every file the probe plan reads lives under
    // one of the nprobe probe-cell partition dirs — the other cells' files
    // are never opened
    val probeCells = Similarity.ivfProbeCells(qvec, centroids, 3).toSet
    val scanned = probed.inputFiles
    assert(scanned.nonEmpty)
    assert(
      scanned.forall(f => probeCells.exists(c => f.contains(s"/p=$c/"))),
      s"probe opened files outside its ${probeCells.size} cells: ${scanned.mkString(",")}"
    )

    // q98 parity: the persisted-codes probe returns exactly what the
    // inline-quantizing ivfSq8TopK computes (same cells, same kernel)
    val inline = Similarity.ivfSq8TopK(corpus, "vec_id", "embedding", qvec, 20, centroids, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val fromIndex = probed.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(fromIndex == inline, "stored-codes probe diverged from inline IVF+SQ8")

    // incremental contract: a delta load touching ONE cell carries every
    // other cell forward by reference and the probe still serves
    val someCell = probeCells.head
    val oneCell = stored.filter($"cell" === someCell)
    graft.sources.VersionedTable.commitDelta(spark, path, oneCell, "cell")
    val after = Similarity.probeIvfSq8Index(spark, path, "vec_id", qvec, 20, centroids, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(after == inline, "probe after single-cell delta commit diverged")
  }

  test("PQ: hand-computed Lloyd iteration, codes, and ADC ranking (m=2, k=2, 4-dim)") {
    // v0..v3 split into two 2-dim subspaces; init codebooks from v0/v1.
    // One Lloyd iteration moves sub0 c1 to (3.5,3.5) (mean of v1,v3) and
    // sub1 c0 to (0.5,0.5) (mean of v0,v3); all arithmetic is exact in
    // IEEE 754 at these magnitudes, so equality is strict.
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(4f, 4f, 4f, 4f)),
      (2L, Seq(0f, 0f, 4f, 4f)),
      (3L, Seq(3f, 3f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val init = (0 until 2).map(j => Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(4.0, 4.0)))
    val cbs = Similarity.trainPqCodebooks(vecs, "embedding", dim = 4, init, iters = 1)
    assert(cbs(0) == Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(3.5, 3.5)))
    assert(cbs(1) == Seq(0L -> Seq(0.5, 0.5), 1L -> Seq(4.0, 4.0)))
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding", 4, cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(0L) == Seq(0L, 0L) && codes(1L) == Seq(1L, 1L))
    assert(codes(2L) == Seq(0L, 1L) && codes(3L) == Seq(1L, 0L))
    // query (1,1,1,1): ADC table sub0 = [2, 12.5], sub1 = [0.5, 18]
    val top = Similarity.pqAdcTopK(vecs, "vec_id", "embedding", 4, cbs, Seq(1f, 1f, 1f, 1f), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(top == Seq(0L -> 2500000L, 3L -> 13000000L, 2L -> 20000000L, 1L -> 30500000L))
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(vecs, "embedding", dim = 4, init.take(1).map(_ => Seq(5L -> Seq(0.0))), iters = 1)
    }
  }

  test("ivfPqTopK: coarse probe prunes candidates before ADC; ranking matches the unpruned PQ order") {
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(4f, 4f, 4f, 4f)),
      (2L, Seq(0f, 0f, 4f, 4f)),
      (3L, Seq(3f, 3f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val init = (0 until 2).map(_ => Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(4.0, 4.0)))
    val cbs = Similarity.trainPqCodebooks(vecs, "embedding", dim = 4, init, iters = 1)
    val coarse = Seq(0L -> Seq(0.0, 0.0, 0.0, 0.0), 1L -> Seq(4.0, 4.0, 4.0, 4.0))
    // query (1,1,1,1): nearest coarse cell is 0; v2 and v3 both tie-assign
    // to cell 0 (equidistant, lower cid wins) -> candidates {v2, v3} only
    val top = Similarity.ivfPqTopK(
        vecs.filter($"vec_id" =!= 0L), "vec_id", "embedding", 4, coarse, cbs, Seq(1f, 1f, 1f, 1f), nprobe = 1, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(top == Seq(3L -> 13000000L, 2L -> 20000000L), s"got $top")
    // nprobe=all cells == plain PQ ranking over the same rows
    val full = Similarity.ivfPqTopK(
        vecs.filter($"vec_id" =!= 0L), "vec_id", "embedding", 4, coarse, cbs, Seq(1f, 1f, 1f, 1f), nprobe = 2, k = 4)
      .collect().map(_.getLong(0)).toSeq
    val plain = Similarity.pqAdcTopK(
        vecs.filter($"vec_id" =!= 0L), "vec_id", "embedding", 4, cbs, Seq(1f, 1f, 1f, 1f), 4)
      .collect().map(_.getLong(0)).toSeq
    assert(full == plain, "nprobe=all must equal the exhaustive PQ ranking")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(vecs, "vec_id", "embedding", 4, coarse, cbs, Seq(1f, 1f, 1f, 1f), nprobe = 3, k = 4)
    }
  }

  test("pqAdcRerankTopK: shortlist=corpus equals exact cosine; small shortlist stays within ADC's top ids; k bound enforced") {
    val vecs = (0L to 12L).map { i =>
      (i, Seq(i.toFloat, (i % 3).toFloat, (12 - i).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val init = (0 until 2).map(_ => Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(8.0, 2.0)))
    val cbs = Similarity.trainPqCodebooks(vecs, "embedding", dim = 4, init, iters = 1)
    val q = Seq(6f, 1f, 6f, 1f)
    val rest = vecs.filter($"vec_id" =!= 0L)
    // shortlist covering the whole corpus -> re-rank IS the exact ranking
    val full = Similarity.pqAdcRerankTopK(rest, "vec_id", "embedding", 4, cbs, q, k = 5, shortlist = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 5)
      .select($"vec_id", org.apache.spark.sql.functions.floor($"cosine" * 1000000).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == exact, s"full-shortlist re-rank must equal exact cosine: $full vs $exact")
    // a tight shortlist: output ids are a subset of the ADC shortlist, and
    // they are ordered by exact cosine (not by ADC distance)
    val shortIds = Similarity.pqAdcTopK(rest, "vec_id", "embedding", 4, cbs, q, 6)
      .collect().map(_.getLong(0)).toSet
    val tight = Similarity.pqAdcRerankTopK(rest, "vec_id", "embedding", 4, cbs, q, k = 4, shortlist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight.map(_._1).toSet.subsetOf(shortIds))
    assert(tight.map(_._2).reverse == tight.map(_._2).reverse.sorted, "re-rank order must be cosine desc")
    intercept[IllegalArgumentException] {
      Similarity.pqAdcRerankTopK(rest, "vec_id", "embedding", 4, cbs, q, k = 10, shortlist = 5)
    }
  }

  test("dimensionStats: hand-computed integer mean/variance, negative mean truncation") {
    import spark.implicits._
    // dim 0: values 1.0, 2.0, 4.0 -> e6 (1e6, 2e6, 4e6): mean 7e6/3 = 2333333
    //   var = (3*21e12 - 49e12)/9 = 14e12/9 = 1555555555555 (truncated)
    // dim 1: values -1.0, -2.0, 0.0 -> sum -3e6, mean -1e6
    //   var = (3*5e12 - 9e12)/9 = 666666666666
    val vecs = Seq(
      (1L, Array(1.0f, -1.0f)), (2L, Array(2.0f, -2.0f)), (3L, Array(4.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimensionStats(vecs, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out(0) == (0L, 3L, 2333333L, 1555555555555L), s"got ${out(0)}")
    assert(out(1) == (1L, 3L, -1000000L, 666666666666L), s"got ${out(1)}")
  }

  test("covarianceMatrix: hand-computed cells, diagonal == dimensionStats, negative truncation toward zero") {
    import spark.implicits._
    // 3 vectors, 2 dims -> e6: (5e5,-25e4), (1e6,75e4), (0,5e5)
    // (0,0): si=sj=15e5, sij=1.25e12 -> (3*1.25e12 - 2.25e12)/9 = 166666666666 (trunc)
    // (0,1): si=15e5, sj=1e6, sij=6.25e11 -> (1.875e12 - 1.5e12)/9 = 41666666666
    // (1,1): si=sj=1e6, sij=8.75e11 -> (2.625e12 - 1e12)/9 = 180555555555
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f)), (2L, Array(1.0f, 0.75f)), (3L, Array(0.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.covarianceMatrix(vecs, "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 3)
    assert(out((0L, 0L)) == (3L, 166666666666L))
    assert(out((0L, 1L)) == (3L, 41666666666L))
    assert(out((1L, 1L)) == (3L, 180555555555L))
    // the diagonal must equal dimensionStats' variance column exactly
    val diag = Similarity.dimensionStats(vecs, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(diag(0L) == out((0L, 0L))._2 && diag(1L) == out((1L, 1L))._2)
    // negative covariance: numerator -3.3e12 / 9 must truncate TOWARD ZERO
    // (-366666666666), not floor (-366666666667) — the cross-engine contract
    val anti = Seq(
      (1L, Array(1.0f, -0.5f)), (2L, Array(-1.0f, 0.6f)), (3L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val c01 = Similarity.covarianceMatrix(anti, "vec_id", "embedding")
      .filter(col("dim_i") === 0 && col("dim_j") === 1).head().getLong(3)
    assert(c01 == -366666666666L, s"got $c01")
  }

  test("knnLabelScreen: planted mislabel flagged, consistent labels pass, self excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two tight clusters in 2-d; vec 3 sits in cluster A but carries B's label
    val vecs = Seq(
      (0L, Array(1.00f, 0.01f), 0), (1L, Array(0.99f, 0.02f), 0), (2L, Array(0.98f, 0.00f), 0),
      (3L, Array(1.00f, 0.03f), 1), // mislabeled
      (10L, Array(0.01f, 1.00f), 1), (11L, Array(0.02f, 0.99f), 1), (12L, Array(0.00f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", col("vec_id").isin(0L, 3L, 10L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).sortBy(_._1)
    // probe 0: neighbors are cluster A (labels 0,0 from 1,2 and 1 from 3) -> majority 0, not flagged
    assert(out(0) == (0L, 0L, 0L, false))
    // probe 3: its 3 nearest are all true cluster A -> majority 0, own 1 -> flagged
    assert(out(1) == (3L, 1L, 0L, true))
    // probe 10: cluster B majority 1, not flagged
    assert(out(2) == (10L, 1L, 1L, false))
    intercept[IllegalArgumentException] {
      Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", col("vec_id") === 0L, k = 0)
    }
  }

  test("knnLabelScreenIvf: nprobe=all equals the exact screen; nprobe=1 bounds candidates to the probed cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (0L, Array(1.00f, 0.01f), 0), (1L, Array(0.99f, 0.02f), 0), (2L, Array(0.98f, 0.00f), 0),
      (3L, Array(1.00f, 0.03f), 1), // mislabeled: sits in cluster A
      (10L, Array(0.01f, 1.00f), 1), (11L, Array(0.02f, 0.99f), 1), (12L, Array(0.00f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    // two centroids, one per cluster
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val pred = col("vec_id").isin(0L, 3L, 10L)

    // nprobe = all cells: identical to the exact screen, row for row
    val exact = Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", pred, k = 3)
      .collect().map(_.toSeq).toSet
    val celled = Similarity.knnLabelScreenIvf(vecs, "vec_id", "embedding", "label", pred, cents, nprobe = 2, k = 3)
      .collect().map(_.toSeq).toSet
    assert(celled == exact, s"nprobe=all must reproduce the exact screen:\ncelled=$celled\nexact=$exact")

    // nprobe = 1: each probe sees only its own cell's candidates — probe 3
    // (cluster A, 4 corpus rows there, 3 others) still flags; votes come
    // only from cell A (k=3 neighbors all labeled 0)
    val one = Similarity.knnLabelScreenIvf(vecs, "vec_id", "embedding", "label", pred, cents, nprobe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(one.map(_._1).toSeq == Seq(0L, 3L, 10L))
    assert(one(1) == (3L, 0L, 3L, true), s"got ${one(1)}")
    // probe 10 probes cell B only: neighbors 11,12 (labels 1,1) -> majority 1
    assert(one(2) == (10L, 1L, 2L, false), s"got ${one(2)}")

    intercept[IllegalArgumentException] {
      Similarity.knnLabelScreenIvf(vecs, "vec_id", "embedding", "label", pred, cents, nprobe = 3, k = 3)
    }
  }

  test("label screens: an over-ceiling probe batch drops the broadcast hint, output unchanged") {
    // VERDICT r15 "what's wrong #1": a corpus-proportional probe predicate
    // makes the broadcast side grow with the corpus; past the ceiling the
    // screen must degrade to a non-broadcast join, not OOM the driver.
    // maxBroadcastProbes=0 forces every probe frame over the ceiling.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (0L, Array(1.00f, 0.01f), 0), (1L, Array(0.99f, 0.02f), 0), (2L, Array(0.98f, 0.00f), 0),
      (3L, Array(1.00f, 0.03f), 1),
      (10L, Array(0.01f, 1.00f), 1), (11L, Array(0.02f, 0.99f), 1), (12L, Array(0.00f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pred = col("vec_id").isin(0L, 3L, 10L)
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))

    // stop the planner from re-broadcasting the tiny fallback side on its
    // own, so the guard's choice is what the plan shows
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val exact = Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", pred, k = 3)
      val exactFb = Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", pred, k = 3,
        maxBroadcastProbes = 0)
      assert(exactFb.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "over-ceiling exact screen must fall back to the non-broadcast (cartesian) join")
      assert(exactFb.collect().map(_.toSeq).toSet == exact.collect().map(_.toSeq).toSet)

      val celled = Similarity.knnLabelScreenIvf(vecs, "vec_id", "embedding", "label", pred, cents,
        nprobe = 2, k = 3)
      val celledFb = Similarity.knnLabelScreenIvf(vecs, "vec_id", "embedding", "label", pred, cents,
        nprobe = 2, k = 3, maxBroadcastProbes = 0)
      assert(!celledFb.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "over-ceiling celled screen must shuffle the cell equi-join instead of broadcasting")
      assert(celledFb.collect().map(_.toSeq).toSet == celled.collect().map(_.toSeq).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("guardedBroadcast byte leg: a probe frame under the row ceiling but past the driver byte budget drops the hint") {
    // VERDICT r17 #5: the r16 byte clamp is hash-equal-proven past the
    // ceiling, but no test pinned the BYTE leg specifically — a probe
    // frame far under the 4M-row ceiling whose ESTIMATED BYTES exceed
    // maxResultSize/2 must drop the hint. dim = 1M floats puts the
    // sampled estRowBytes at ~8 MB, so 80 probe rows cross the 512 MB
    // budget (default 1g maxResultSize) while the row ceiling is never
    // approached; the narrow twin (same row count, dim=2) shows the
    // boundary is the bytes, not the rows.
    import org.apache.spark.sql.functions._
    def screen(dim: Int) = {
      val vecs = spark.range(100)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dim)), x => (x % 7).cast("float")).as("embedding"),
          (col("id") % 2).cast("int").as("label"))
      Similarity.knnLabelScreen(vecs, "vec_id", "embedding", "label", col("vec_id") < 80, k = 3)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(screen(1000000).queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "byte-capped probe frame must fall back to the PINNED non-broadcast join")
      assert(screen(2).queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "the same 80-row probe frame with small vectors must keep the broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("covarianceMatrixFold: cell-for-cell equal to the join formulation; 128-bit second moments exact") {
    import spark.implicits._
    // values chosen to stress sign handling (negative covariances) and the
    // e6 floor; dim=3 keeps the exhaustive compare readable
    val rows = Seq(
      Array(0.5f, -0.25f, 0.125f),
      Array(-0.75f, 0.9f, -0.1f),
      Array(0.25f, -0.5f, 0.99f),
      Array(0.0f, 0.0f, -0.33f),
      Array(1.0f, -1.0f, 1.0f)
    ).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val joinForm = Similarity.covarianceMatrix(rows, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    val foldForm = Similarity.covarianceMatrixFold(rows, "embedding", dim = 3)
      .collect().map(_.toSeq).toSet
    assert(foldForm == joinForm, s"fold=$foldForm\njoin=$joinForm")
    // the fold's plan has no join and no explode — nothing row-proportional
    // is exchanged
    val p = Similarity.covarianceMatrixFold(rows, "embedding", dim = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Generate"), s"fold plan must be join/explode-free:\n$p")
    // 128-bit accumulation: products that individually overflow a signed
    // 64-bit sum after ~9e6 rows are exercised by a synthetic big-value
    // fold (±1e6-scale elements, repeated) through the agg's own merge path
    val agg = new graft.plans.CovarianceFoldAgg(2)
    val big = Seq.fill(1000)(Array(1000.0f, -1000.0f).toSeq)
    val b1 = big.take(500).foldLeft(agg.zero)(agg.reduce)
    val b2 = big.drop(500).foldLeft(agg.zero)(agg.reduce)
    val cells = graft.plans.CovarianceFoldAgg.cells(2, agg.finish(agg.merge(b1, b2)))
    // every row identical => covariance exactly 0 for all pairs
    assert(cells.forall(_._4 == 0L), s"constant rows must have zero covariance: $cells")
    assert(cells.map(c => (c._1, c._2)).toSet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(cells.forall(_._3 == 1000L))
  }

  test("covarianceMatrixFold: empty corpus decodes to zero cells, matching the join formulation") {
    // ADVICE r16: the fold used to throw on n=0 while the join formulation
    // returned an empty frame — the "interchangeable bit for bit" contract
    // must hold on empty input too.
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.covarianceMatrix(empty, "vec_id", "embedding").count() == 0L)
    assert(Similarity.covarianceMatrixFold(empty, "embedding", dim = 3).count() == 0L)
    assert(graft.plans.CovarianceFoldAgg.cells(3, new graft.plans.CovarianceFoldAgg(3).zero).isEmpty)
  }
}
