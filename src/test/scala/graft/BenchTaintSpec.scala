package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's taint verdict: another workload shared the machine
  * if either the start-of-run or the run-wide external CPU share is above
  * 0.30.
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
}
