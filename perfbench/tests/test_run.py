"""Tests of the benchmark's metric reduction and of its JVM-side self-test.

    python3 -m unittest discover -s perfbench/tests

The JVM cases build the benchmark package on first use (about a minute).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def span(id_, parent, start, end, name="s", op=0, **counters):
    return {"id": id_, "parent": parent, "name": name, "op": op,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "counters": counters}


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile_with_tail([1.0] * 99))
        self.assertIsNone(run.percentile_with_tail([]))
        lat = [float(i) for i in range(1, 101)]
        self.assertEqual(run.percentile_with_tail(lat), 90.0)
        self.assertEqual(sum(1 for x in lat if x > 90.0), 10)

    def test_p90_emitted_only_with_enough_ops(self):
        def rec(n):
            ops = [{"id": i, "name": "op", "start_ns": 0, "end_ns": int(1e9 * (1 + i % 7)), "traced": False,
                    "rows": 1, "error": None} for i in range(n)]
            return {"ops": ops, "session_start_s": 1.0, "setup_reps_s": [2.0, 1.0, 3.0], "peak_rss_mb": 100.0,
                    "sizes": {}}
        self.assertNotIn("op_p90_s", run.end_to_end(rec(99))[0])
        m, n = run.end_to_end(rec(100))
        self.assertIn("op_p90_s", m)
        self.assertEqual(n, 100)
        self.assertEqual(m["setup_s"], 3.0)  # session start + median setup repetition


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        # root 0..10 with children 1..4 and 3..6 (overlapping: 5 s covered) and
        # 8..9; the first child has a grandchild 2..3
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 3, 6), span(3, 0, 8, 9), span(4, 1, 2, 3)]
        st = run.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 5 - 1)
        self.assertAlmostEqual(st[1], 3 - 1)
        self.assertAlmostEqual(st[2], 3)
        self.assertAlmostEqual(st[4], 1)

    def test_layer_metrics_sum_per_op_and_zero_for_absent_spans(self):
        spans = [span(0, -1, 0, 4, name="op", op=0), span(1, 0, 0, 1, name="pipeline.load", op=0, jobs=3, util=0.5),
                 span(2, 0, 1, 3, name="pipeline.load", op=0, jobs=2, util=0.3),
                 span(3, -1, 5, 6, name="pipeline.load", op=1, jobs=9, util=0.1)]
        ops = [{"id": 0, "traced": True, "start_ns": 0, "end_ns": 4_000_000_000},
               {"id": 1, "traced": False, "start_ns": 5_000_000_000, "end_ns": 9_000_000_000}]
        rec = {"spans": spans, "ops": ops, "session_start_s": 1.5, "op_gauges": {}, "gauges": {}}
        m = run.layer_metrics(rec)
        self.assertEqual(m["pipeline.load.jobs"]["value"], 5)  # the untraced op's span is ignored
        self.assertAlmostEqual(m["pipeline.load.self_s"]["value"], 3.0)
        self.assertAlmostEqual(m["pipeline.load.util"]["value"], 0.4)
        self.assertEqual(m["dq.suite.jobs"]["value"], 0.0)
        self.assertEqual(m["trace.overhead_ratio"]["value"], 1.0)
        self.assertEqual([k for k in m], [n for n, _ in run.per_layer_names()])

    def test_overhead_pairs_ops_that_ran_both_ways(self):
        ops = [{"id": 0, "traced": True, "start_ns": 0, "end_ns": 12}, {"id": 0, "traced": False, "start_ns": 0, "end_ns": 10},
               {"id": 1, "traced": False, "start_ns": 0, "end_ns": 100}, {"id": 1, "traced": True, "start_ns": 0, "end_ns": 110}]
        self.assertAlmostEqual(run.trace_overhead(ops), 1.15)


class VerdictTest(unittest.TestCase):
    def test_failed_checks_and_op_errors_count_as_failures(self):
        rec = {"ops": [{"error": None}, {"error": "boom"}, {"error": None}],
               "checks": [{"name": "a", "ok": True}, {"name": "b", "ok": False}]}
        attempted, failed, bad = run.verdict(rec)
        self.assertEqual((attempted, failed, [c["name"] for c in bad]), (3, 2, ["b"]))


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_match_what_the_runner_emits(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.per_layer_names())
        self.assertLessEqual(len(b["per_layer"]), 128)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


class JvmSelfTest(unittest.TestCase):
    def test_generator_and_checkers(self):
        """Same seed -> byte-identical inputs; every checker rejects a corrupted warehouse."""
        r = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "run.py"), "--selftest"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("selftest: all passed", r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
