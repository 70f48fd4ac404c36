#!/usr/bin/env python3
"""The harness's own tests: every workload in smoke mode, traced and not.

    python3 perfbench/test_smoke.py

Checks that each run is correct and reports exactly the metrics of
BENCHMARK.json (end-to-end untraced, per-layer traced), that BENCHMARK.json
and METRICS.json list the same metrics, that curate's output
digest repeats for a seed, and that run.py fails without a result when the
graft sources are missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
METRICS = json.load(open(os.path.join(HERE, "METRICS.json")))


def smoke(workload, trace, seed=3, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "3", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True)
    return p, p.stdout.strip().split("\n")


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        p, lines = smoke(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(lines[-1])
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(list(r["metrics"]), [m["name"] for m in want])
        for m in want:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for name, v in r["metrics"].items():
                self.assertGreater(v["value"], 0, name)
        host = json.loads(next(l for l in lines if l.startswith("host ")).split(" ", 1)[1])
        for k in ("nproc", "local_n", "loadavg_start", "loadavg_end", "heap_max_mb", "seed"):
            self.assertIsInstance(host[k], (int, float), k)
        return lines

    def test_ingest(self):
        self.check("ingest", 0)
        self.check("ingest", 1)

    def test_mutate(self):
        self.check("mutate", 0)
        self.check("mutate", 1)

    def test_curate(self):
        digests = [l for l in self.check("curate", 0) if l.startswith("output_digest ")]
        lines = self.check("curate", 1)
        self.assertEqual(digests, [l for l in lines if l.startswith("output_digest ")])
        self.assertEqual(len(digests), 1)

    def test_metrics_match(self):
        """BENCHMARK.json lists METRICS.json's gated end-to-end and its per-layer metrics, in order."""
        gated = [(k, v["unit"]) for k, v in METRICS["end_to_end"].items() if v["gated"]]
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]], gated)
        layer = [(k, v["unit"]) for k, v in METRICS["per_layer"].items()]
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["per_layer"]], layer)
        for w in SPEC["workloads"]:
            self.assertTrue(METRICS["workloads"][w["name"]]["in_benchmark"])

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("target"))
            p, lines = smoke("ingest", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(lines[-1].startswith("{"))


if __name__ == "__main__":
    unittest.main(verbosity=2)
