"""BENCHMARK.json agrees with the metric definitions, and a run record
turns into exactly the declared metrics.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import metrics  # noqa: E402


def record(trace):
    spans = []
    for op in (1, 3):
        for k, (name, _) in enumerate(metrics.SERVE_STEPS):
            spans.append({"id": len(spans), "name": name, "parent": -1, "op": op,
                          "start_ns": 0, "end_ns": int((1 + k) * 1e8), "jobs": 2, "tasks": 4,
                          "failed_tasks": 0, "shuffle_write_bytes": 10, "spill_bytes": 0,
                          "task_ms": [5.0, 7.0], "task_wait_ms": [1.0]})
    return {
        "workload": "serve_compiled", "trace": trace, "setup_s": [9.0, 4.0, 5.0],
        "session_start_s": [0.5, 0.2, 0.2], "op_wall_s": [1.0, 1.2, 0.8, 1.1, 0.9],
        "op_ok": [True] * 5, "op_traced": [False, True, False, True, False], "warmup_ops": 1,
        "timed_window_s": 4.1, "rows_per_op": 1000, "cache_mb": 0.5, "checks": [],
        "properties": {}, "values": {"index_agreement": 0.9, "KvIndex.exact_hit_share": 0.99,
                                     "KvIndex.prefix_hit_share": 0.01},
        "samples": {"lookup_us": [1.0] * 120}, "spans": spans, "unattributed_jobs": 3,
        "failed_tasks": 0,
    }


class BenchmarkJson(unittest.TestCase):
    def test_file_matches_definitions(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), metrics.benchmark_json())

    def test_names_unique_and_within_limits(self):
        names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.PER_LAYER), 128)
        self.assertIn("setup_s", [m[0] for m in metrics.END_TO_END])
        for _, _, _, bound, _ in metrics.END_TO_END:
            self.assertLessEqual(bound, 0.25)


class Compute(unittest.TestCase):
    def test_end_to_end_emits_every_metric(self):
        out = metrics.end_to_end(record(0))
        self.assertEqual(set(out), {m[0] for m in metrics.END_TO_END})
        self.assertEqual(out["setup_s"], 5.0)
        self.assertAlmostEqual(out["op_s_p50"], 1.0)
        self.assertAlmostEqual(out["rows_per_s"], 1000.0)

    def test_warmup_operation_left_out(self):
        rec = record(0)
        rec["op_wall_s"][0] = 100.0
        self.assertAlmostEqual(metrics.end_to_end(rec)["op_s_p50"], 1.0)

    def test_per_layer_emits_every_metric(self):
        out = metrics.per_layer(record(1))
        self.assertEqual(set(out), {m[0] for m in metrics.PER_LAYER})
        self.assertAlmostEqual(out["Tables.scan_s"], 0.1)
        self.assertAlmostEqual(out["featurize.incr_s"], 0.1)
        self.assertEqual(out["Tables.scan.jobs"], 2)
        # the warm-up operation is left out of the overhead
        self.assertAlmostEqual(out["trace.overhead_s"], 1.15 - 0.85)


if __name__ == "__main__":
    unittest.main()
