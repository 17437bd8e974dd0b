package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.specs` is the one query declaration: the oracle keys, the
  * driver's query map and Bench's tiers all follow from it, and Bench's
  * setup step reports a failed build against every query that needs it.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val specs = SparkEntry.specs
  private def names(tier: Tier) = specs.filter(_.tier == tier).map(_.name)

  test("registry: unique names, one-to-one with the oracle keys and the driver map") {
    val all = specs.map(_.name)
    assert(all.distinct.size == all.size, all.diff(all.distinct))
    assert(all.toSet == Oracles.all.keySet)
    assert(all.size == 194)
    assert(SparkEntry.queries.keySet == all.toSet)
  }

  test("registry: the headline set and the extras keep their record order") {
    // held fixed so bench totals stay like-for-like across records
    assert(names(Tier.Headline) == Seq(
      "q01_pricing_summary", "q03_join_revenue", "q04_semi_join",
      "q07_window_latest", "q11_scd2_upsert", "q12_state_delta",
      "q13_explode_tokens", "q21_dq_suite", "q30_dedup_exact",
      "q32_text_quality", "q36_jaccard_pairs", "q37_minhash_lsh",
      "q40_ann_bruteforce", "q41_ann_lsh", "q43_event_windows",
      "q24_sessions", "q49_asof_join", "q50_multi_join",
      "q47_embedding_neardup", "q64_tfidf", "q68_quality_filter",
      "q39_simhash_portable", "q85_ann_ivf_trained", "q80_scd2_partitioned",
      "q86_semantic_dedup", "q87_mixture_sample", "q88_dup_groups"))
    assert(names(Tier.Extra).map(_.split('_').head) == (89 to 199).map(n => s"q$n"))
  }

  test("registry: staged queries and their setups keep the setup_sec keys") {
    val setups = specs.flatMap(_.staged).map(_.setup)
    val keys = (setups ++ setups.flatMap(_.base)).map(_.key).toSet
    assert(keys == Set(
      "q98_index_build", "q106_warehouse_build", "q127_warehouse_build",
      "q130_index_build", "q140_sweep_build", "q145_dv_build",
      "q148_replica_bootstrap", "q161_index_build", "q163_index_build",
      "q165_rollup_build", "q171_rollup_build", "q182_fixture_land"))
    assert(specs.filter(_.staged.isDefined).map(_.name.split('_').head) == Seq(
      "q98", "q106", "q119", "q127", "q130", "q140", "q141", "q145", "q148",
      "q161", "q163", "q165", "q166", "q171", "q172", "q182"))
    assert(specs.filter(_.staged.isDefined).forall(_.tier != Tier.VerifyOnly))
  }

  test("Bench setup step: a failed setup fails every query that depends on it, loudly") {
    lazy val spark = TestSpark.spark
    var okBuilds = 0
    val boom = Setup[Int]("boom_build")((_, _) => throw new IllegalStateException("no warehouse"))
    val onBoom = Setup.on("on_boom_build", boom)((_, v: Int) => v + 1)
    val ok = Setup[Long]("ok_build") { (_, _) => okBuilds += 1; 3L }
    val rows: (SparkSession, String, Any) => DataFrame = (s, _, n) => s.range(n.toString.toLong).toDF()
    val registry = Seq(
      QuerySpec("plain", Tier.Headline, (s, _) => s.range(2).toDF()),
      QuerySpec.staged("direct", Tier.Extra, boom)(rows),
      QuerySpec.staged("via_base", Tier.Extra, onBoom)(rows),
      QuerySpec.staged("served_a", Tier.Extra, ok)(rows),
      QuerySpec.staged("served_b", Tier.Extra, ok)(rows))
    val prepared = Bench.prepare(spark, "unused", registry)

    assert(okBuilds == 1, "a shared setup builds once")
    assert(prepared.setupSec.map(_._1) == Seq("ok_build"), "a failed build reports no setup time")
    Seq("direct", "via_base").foreach { n =>
      val err = prepared.ops(n).left.getOrElse(fail(s"$n got an op"))
      assert(err.contains("boom_build") && err.contains("no warehouse"), err)
    }

    val timed = Bench.timeOps(spark, "unused", registry.map(_.name), prepared.ops, runs = 1)
      .map { case (n, t, e) => n -> (t, e) }.toMap
    Seq("direct", "via_base").foreach { n =>
      val (t, e) = timed(n)
      assert(t.isEmpty && e.exists(_.contains("no warehouse")), s"$n: $t $e")
    }
    Seq("plain", "served_a", "served_b").foreach(n => assert(timed(n)._1.isDefined && timed(n)._2.isEmpty, n))
    assert(okBuilds == 1, "serving does not rebuild")
    // the full query (what Verify runs) is serve-after-build
    assert(registry.find(_.name == "served_a").get.run(spark, "unused").count() == 3)
    assert(okBuilds == 2)
  }
}
