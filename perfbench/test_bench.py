#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py          # includes the smoke run
    GRAFT_BENCH_SKIP_SMOKE=1 python3 -m unittest perfbench/test_bench.py

The smoke test builds the program and runs every workload at its smallest
size with tracing on, so every correctness gate and the per-layer path run
(about a minute on a 4-core host).
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def report(**e2e):
    return {"workload": "serve", "correct": True, "attempted": 7, "failed": 0,
            "e2e": {k: {"value": v, "unit": "s", "samples": 3} for k, v in e2e.items()},
            "layer": {"log.jobs": {"value": 12.0, "unit": "count", "samples": 1}}}


class ResultLineTest(unittest.TestCase):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_untraced_line_carries_exactly_the_end_to_end_metrics(self):
        names = [m["name"] for m in self.bench["end_to_end"]]
        line = run.result_line(self.bench, report(**{n: 1.5 for n in names}), trace=0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(line["metrics"]), names)

    def test_untraced_line_refuses_a_missing_metric(self):
        with self.assertRaises(SystemExit):
            run.result_line(self.bench, report(setup_s=1.0), trace=0)

    def test_traced_line_carries_every_per_layer_metric(self):
        line = run.result_line(self.bench, report(setup_s=2.0), trace=1)
        self.assertEqual(list(line["metrics"]), [m["name"] for m in self.bench["per_layer"]])
        self.assertEqual(line["metrics"]["log.jobs"]["value"], 12.0)
        self.assertEqual(line["metrics"]["traced.setup_s"]["value"], 2.0)


@unittest.skipIf(os.environ.get("GRAFT_BENCH_SKIP_SMOKE"), "smoke run skipped")
class SmokeTest(unittest.TestCase):
    def test_every_workload_and_gate_passes_at_smoke_size(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--smoke"],
                           cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        for w in run.WORKLOADS:
            self.assertIn(f"[smoke] {w}: ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
