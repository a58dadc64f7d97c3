"""Self-check of the benchmark: every workload at tiny size for a few
seconds prints every metric BENCHMARK.json names, with its unit, in both
modes; and a planted wrong answer makes the run fail.

    python3 -m unittest discover -s perfbench/tests -v

Takes a few minutes (one JVM per case; the first case also builds).
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def run(workload, trace=0, plant=None, seed=3):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace), "--tiny"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stdout + p.stderr[-4000:]


class MetricsArePrinted(unittest.TestCase):
    def check(self, workload, trace):
        rc, result, log = run(workload, trace)
        self.assertEqual(rc, 0, log)
        self.assertIsNotNone(result, log)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], log)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])


for _w in WORKLOADS:
    for _t in (0, 1):
        setattr(MetricsArePrinted, f"test_{_w}_trace{_t}",
                lambda self, w=_w, t=_t: self.check(w, t))


class PlantedWrongAnswersFail(unittest.TestCase):
    def check_fails(self, workload, plant):
        rc, result, log = run(workload, plant=plant)
        self.assertNotEqual(rc, 0, log)
        self.assertIsNotNone(result, log)
        self.assertFalse(result["correct"], log)
        self.assertIn("CHECK FAILED", log)

    def test_tampered_digest(self):
        self.check_fails("analytics_multijob", "digest")

    def test_latch_twin_firing_on_every_fire(self):
        self.check_fails("crowd_stream", "latch")


if __name__ == "__main__":
    unittest.main()
