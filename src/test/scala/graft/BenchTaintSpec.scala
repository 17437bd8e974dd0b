package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's taint verdict: another workload shared the machine
  * if either the start-of-run or the run-wide external CPU share is above
  * 0.30. And the regression floor it compares against: loaded from every
  * floor file, never silently empty.
  */
class BenchTaintSpec extends AnyFunSuite {

  test("taint verdict: start 0.5 or run 0.4 taints; both <= 0.1 stay untainted") {
    assert(Bench.isTainted(Some(0.5), Some(0.05)))
    assert(Bench.isTainted(Some(0.05), Some(0.4)))
    assert(!Bench.isTainted(Some(0.1), Some(0.1)))
    assert(!Bench.isTainted(Some(0.0), Some(0.02)))
    // a share that could not be sampled taints nothing on its own
    assert(!Bench.isTainted(None, Some(0.1)))
    assert(Bench.isTainted(None, Some(0.4)))
  }

  test("a corrupt bench floor file fails the floor load, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-floors")
    java.nio.file.Files.writeString(dir.resolve("BENCH_FLOORS_sf0.1.json"),
      """{"sf": "/data/sf0.1", "timing_action": "hash_rows", "queries": {"q01_pricing_summary": 1.5}}""")
    assert(Bench.loadBaseline("/data/sf0.1", dir.toFile)._2 == Map("q01" -> 1.5))
    java.nio.file.Files.writeString(dir.resolve("BENCH_LOCAL_sf0.1.json"), """{"sf": "/data/sf0.1", "queries": {""")
    val e = intercept[IllegalStateException](Bench.loadBaseline("/data/sf0.1", dir.toFile))
    assert(e.getMessage.contains("BENCH_LOCAL_sf0.1.json"), e.getMessage)
  }
}
