package graft

import org.apache.spark.sql.SparkSession

/** Dev profiling harness: times a named subset of SparkEntry.queries
  * warm, min-of-5, under the SAME hash_rows materialization action the
  * bench uses (count() lets Catalyst prune pure projections — see the
  * SCALE.md round-10 timing-policy note), so isolated numbers compare
  * 1:1 with BENCH floors. Not part of the driver contract surface;
  * SPARK_GRAFT_SF_DIR overrides the data dir.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(32, "graft-scratch")

    // the bench's own timing action — shared, so isolated numbers stay
    // 1:1 with BENCH floors by construction (ADVICE r14 #3)
    def materialize(df: org.apache.spark.sql.DataFrame): Unit = Bench.materialize(df)

    // probe-style queries measure PROBE ONLY in the bench (index built in
    // setup_sec) — mirror that split here or an isolated A/B compares a
    // build+probe against a probe-only floor and "regresses" by design
    lazy val q161Built = Queries.q161BuildIndex(spark, sfDir)
    lazy val q163Built = Queries.q163BuildIndex(spark, sfDir)
    val probeStyle: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "q161_pq_index_probe" -> ((s: SparkSession, _: String) => {
        val (idx, coarse, cbs, qv) = q161Built; Queries.q161Probe(s, idx, coarse, cbs, qv)
      }),
      "q163_ann_ivf_pq_residual" -> ((s: SparkSession, _: String) => {
        val (idx, coarse, cbs, qv) = q163Built; Queries.q163Probe(s, idx, coarse, cbs, qv)
      }),
      // un-hinted verify variants (VERDICT r15 #1): the same queries with
      // broadcastDict=false, so the over-ceiling escape path has a real
      // at-scale timing next to the broadcast plan's
      "q135_unhinted" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.jaccardPairsPrefix(
          graft.sources.IO.table(s, dir, "documents"), "doc_id", "text",
          tNum = 2L, tDen = 5L, shingleSize = 3, broadcastDict = false)),
      "q37_unhinted" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.minhashLsh(
          graft.sources.IO.table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, bands = 8, rowsPerBand = 2, minJaccard = 0.5, portable = true,
          broadcastDict = false)
          .select(org.apache.spark.sql.functions.col("id_a"), org.apache.spark.sql.functions.col("id_b"),
            org.apache.spark.sql.functions.floor(org.apache.spark.sql.functions.col("jaccard") * 10000)
              .cast("long").as("jaccard_e4"))),
      // DictHint.Auto variants (VERDICT r16 #6): the timing includes the
      // eager stats job, so the ledger shows what Auto actually costs next
      // to the plan it picks (sf1: the un-hinted plan; sf3: broadcast)
      "q135_auto" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.jaccardPairsPrefix(
          graft.sources.IO.table(s, dir, "documents"), "doc_id", "text",
          tNum = 2L, tDen = 5L, shingleSize = 3,
          broadcastDict = graft.operators.Dedup.DictHint.Auto())),
      "q37_auto" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.minhashLsh(
          graft.sources.IO.table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, bands = 8, rowsPerBand = 2, minJaccard = 0.5, portable = true,
          broadcastDict = graft.operators.Dedup.DictHint.Auto())
          .select(org.apache.spark.sql.functions.col("id_a"), org.apache.spark.sql.functions.col("id_b"),
            org.apache.spark.sql.functions.floor(org.apache.spark.sql.functions.col("jaccard") * 10000)
              .cast("long").as("jaccard_e4")))
    )
    def op(n: String) = probeStyle.getOrElse(n, SparkEntry.queries(n))

    val names = if (args.nonEmpty) args.toSeq else Seq("q85_ann_ivf_trained", "q90_ann_ivf_sampled")
    names.foreach { n =>
      try graft.core.Caching.scoped(materialize(op(n)(spark, sfDir)))
      catch { case e: Throwable => println(s"$n warmup failed: $e") }
    }
    names.foreach { n =>
      val fn = op(n)
      // one cache scope per timing, like a bench rep
      val ts = (1 to 5).map { _ =>
        graft.core.Caching.scoped {
          val t0 = System.nanoTime(); materialize(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9
        }
      }
      println(f"[scratch] $n%-24s min=${ts.min}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
