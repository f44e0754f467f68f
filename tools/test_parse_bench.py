"""Checks that parse_bench.py recovers graft.Bench's per-query record from
the 2000-character stdout tail a bench artifact keeps.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import parse_bench

TAIL = 2000


def bench_stdout(n_queries, prefix=""):
    """The last lines Bench prints: the per-query record, then the compact
    summary record."""
    queries = {f"q{i:03d}_query_{i}": round(0.1 + i / 1000, 4) for i in range(n_queries)}
    total = sum(queries.values())
    full = json.dumps({"metric": "total", "value": total, "unit": "sec",
                       "queries": queries, "errors": {}, "suspect": [],
                       "n_queries": n_queries, "n_catalog": n_queries,
                       "sf": "sf0.1"}, separators=(",", ":"))
    compact = json.dumps({"metric": "total_compact", "value": total,
                          "unit": "sec", "n_queries": n_queries,
                          "n_catalog": n_queries, "n_errors": 0,
                          "n_suspect": 0, "sf": "sf0.1"},
                         separators=(",", ":"))
    out = f"{prefix}[bench] done\n{prefix}{full}\n{prefix}{compact}\n"
    return out, queries


def extract_from_tail(stdout):
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"tail": stdout[-TAIL:]}, f)
    try:
        return parse_bench.extract(f.name)
    finally:
        os.unlink(f.name)


class ParseBenchTail(unittest.TestCase):

    def test_whole_record_in_tail(self):
        for prefix in ("", "[info] "):
            stdout, queries = bench_stdout(20, prefix)
            self.assertLess(len(stdout), TAIL)
            parsed, truncated = extract_from_tail(stdout)
            self.assertFalse(truncated)
            self.assertEqual(parsed["metric"], "total")
            self.assertEqual(parsed["queries"], queries)

    def test_record_cut_at_its_start(self):
        # 228 queries make a ~7 KB record: the tail keeps its end and the
        # compact line, never a parseable start of the per-query record
        for prefix in ("", "[info] "):
            stdout, queries = bench_stdout(228, prefix)
            parsed, truncated = extract_from_tail(stdout)
            self.assertTrue(truncated)
            got = parsed["queries"]
            self.assertGreater(len(got), 20)
            self.assertTrue(all(queries[k] == v for k, v in got.items()))


if __name__ == "__main__":
    unittest.main()
