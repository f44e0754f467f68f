"""Tests of the benchmark's own arithmetic and output format.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: rank 90 leaves 9 beyond
        self.assertIsNone(metrics.percentile(xs, 0.9))
        xs = list(range(1, 101))  # 100 samples: rank 90 leaves 10 beyond
        self.assertEqual(metrics.percentile(xs, 0.9), 90)

    def test_nearest_rank_and_order_free(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 4 + [9.0]  # 21 samples
        self.assertEqual(metrics.percentile(xs, 0.5), 3.0)  # rank 11, 10 beyond
        self.assertIsNone(metrics.percentile(xs, 0.6))
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertTrue(math.isnan(metrics.median([])))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (3, 4), (6, 7)]), 5)
        self.assertEqual(metrics.union_length([(5, 9), (0, 1), (6, 7)]), 5)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(2, 2), (3, 1)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # op from 0 to 10; jobs overlap each other and one spills past the op
        jobs = [(1, 3), (2, 4), (8, 12)]
        self.assertEqual(metrics.self_time(0, 10, jobs), 10 - (3 + 2))

    def test_clip(self):
        self.assertEqual(metrics.clip([(-1, 2), (3, 4), (9, 12), (12, 13)], 0, 10),
                         [(0, 2), (3, 4), (9, 10)])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_excludes_nested_children(self):
        spans = [
            {"id": 0, "name": "op", "start": 0, "end": 100, "parent": -1, "op": 0},
            {"id": 1, "name": "build", "start": 0, "end": 30, "parent": 0, "op": 0},
            {"id": 2, "name": "force", "start": 30, "end": 95, "parent": 0, "op": 0},
        ]
        derived = [("job", 10, 20),   # eager job in the build
                   ("qe", 40, 90),    # the final plan, inside the force
                   ("job", 50, 70),   # its jobs, children of the qe
                   ("job", 60, 80)]
        t = metrics._layer_self_times(spans, derived)
        self.assertEqual(t["op"], 5)
        self.assertEqual(t["build"], 20)
        self.assertEqual(t["force"], 15)
        self.assertEqual(t["qe"], 20)
        self.assertEqual(t["job"], 40)
        # every ms of the op lands in exactly one layer
        self.assertEqual(sum(t.values()), 100)


class OutputTest(unittest.TestCase):
    def raw(self):
        def op(i, name, lat, rows=3, h="00ff"):
            return {"id": i, "name": name, "latency_s": lat, "ok": True, "error": "",
                    "check": {"rows": rows, "hash": h}}
        passes = [{"kind": "cold", "traced": False, "codegen_classes": 0, "codegen_ms": 0,
                   "ops": [op(0, "qa", 2.0), op(1, "qb", 1.0)]}]
        for k in range(3):
            passes.append({"kind": "warm", "traced": False, "codegen_classes": 0,
                           "codegen_ms": 0,
                           "ops": [op(2 + 2 * k, "qa", 0.5 + k / 10), op(3 + 2 * k, "qb", 0.25)]})
        return {"workload": "catalog-short", "cpus": 4, "trace": False,
                "setups": [{"session_s": 4.0, "table_load_s": 6.0},
                           {"session_s": 0.1, "table_load_s": 2.0},
                           {"session_s": 0.1, "table_load_s": 2.5}],
                "passes": passes, "gen": None, "peak_rss_mb": 2000.5,
                "spans": [], "jobs": [], "tasks": {}, "qes": []}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.raw())
        self.assertAlmostEqual(m["setup_s"], 2.6)
        self.assertEqual(m["cold_pass_s"], 3.0)
        self.assertAlmostEqual(m["pass_s"], 0.85)
        self.assertAlmostEqual(m["op_p50_s"], 0.375)

    def test_wrong_answer_is_a_failure_not_a_timing(self):
        raw = self.raw()
        raw["passes"][1]["ops"][0]["check"]["hash"] = "0bad"
        expected = {"qa": {"rows": 3, "hash": "00ff"}, "qb": {"rows": 3, "hash": "00ff"}}
        attempted, failed, first = metrics.check_ops(raw, expected)
        self.assertEqual((attempted, failed), (8, 1))
        self.assertIn("qa", first)
        self.assertAlmostEqual(metrics.end_to_end(raw)["pass_s"], 0.85)
        lat = [x for p in raw["passes"][1:] for x in metrics._ok_latencies(p)]
        self.assertNotIn(0.5, lat)

    def test_every_metric_line_parses_from_a_2000_char_tail(self):
        raw = self.raw()
        args = run.parse_args(["--workload", "catalog-short", "--seed", "1",
                               "--seconds", "5", "--trace", "0"])
        saved = run.EXPECTED
        run.EXPECTED = {"qa": {"rows": 3, "hash": "00ff"}, "qb": {"rows": 3, "hash": "00ff"}}
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                run.emit(args, raw)
        finally:
            run.EXPECTED = saved
        # the same lines as sbt would forward them, after unrelated log noise
        text = "x" * 5000 + "\n" + "".join("[info] " + l + "\n" for l in buf.getvalue().splitlines())
        tail = text[-2000:]
        tail = tail[tail.index("\n") + 1:]  # the first line may be cut
        lines = [l for l in tail.splitlines() if "{" in l]
        records = [json.loads(l[l.index("{"):]) for l in lines]
        result = records[-1]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        e2e = {m["name"] for m in run.SPEC["end_to_end"]}
        self.assertEqual(set(result["metrics"]), e2e)
        seen = {r["metric"] for r in records[:-1]}
        self.assertTrue(e2e | {"error_rate", "peak_rss_mb", "op_samples"} <= seen)
        for r in records[:-1]:
            self.assertEqual(set(r), {"metric", "unit", "workload", "value"})
            self.assertEqual(r["workload"], "catalog-short")
            self.assertIsInstance(r["value"], (int, float))


class WarmPassTest(unittest.TestCase):
    def test_fixed_count_from_seconds(self):
        self.assertEqual(run.warm_passes(12, 3.0), 4)
        self.assertEqual(run.warm_passes(12, 10.0), 2)  # never fewer than two
        self.assertEqual(run.warm_passes(60, 10.0), 6)


class ArgumentTest(unittest.TestCase):
    def fails(self, argv):
        with self.assertRaises(SystemExit) as e, contextlib.redirect_stderr(io.StringIO()):
            run.parse_args(argv)
        self.assertEqual(e.exception.code, 2)

    def test_rejects_bad_arguments_before_any_work(self):
        ok = ["--workload", "catalog-short", "--seed", "3", "--seconds", "5", "--trace", "0"]
        run.parse_args(ok)
        self.fails(["--workload", "nope"] + ok[2:])
        self.fails(ok[:3] + ["3,4"] + ok[4:])
        self.fails(ok[:3] + ["-1"] + ok[4:])
        self.fails(ok[:5] + ["0"] + ok[6:])
        self.fails(ok[:7] + ["2"])
        self.fails(ok + ["--extra", "1"])


if __name__ == "__main__":
    unittest.main()
