"""Self-test of the benchmark.

    python3 -m unittest discover -s benchv2/tests -v

- Every frozen key and staging call in `workloads.json` exists in the
  program, so a renamed key fails here instead of shrinking a workload.
- A one-key-per-workload smoke run on the smallest scale factor prints
  every metric that BENCHMARK.json names, with its unit, and fails nothing,
  both untraced and traced.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
from build import ROOT, build  # noqa: E402
from run import harness  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = json.loads((HERE / "workloads.json").read_text())


class FrozenKeys(unittest.TestCase):
    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]),
                         sorted(WORKLOADS["workloads"]))

    def test_every_frozen_key_and_staging_call_exists(self):
        classes = build()
        with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
            out = Path(tmp) / "list.json"
            harness(classes, Path(tmp), ["--mode", "list", "--out", str(out)], timeout=120)
            listed = json.loads(out.read_text())
        for name, wl in WORKLOADS["workloads"].items():
            with self.subTest(workload=name):
                self.assertTrue(wl["keys"])
                self.assertEqual(len(wl["keys"]), len(set(wl["keys"])))
                self.assertEqual([k for k in wl["keys"] if k not in listed["keys"]], [])
                self.assertEqual([s for s in wl["stage"] if s not in listed["staging"]], [])


class Smoke(unittest.TestCase):
    def run_bench(self, workload: str, trace: int) -> dict:
        key = WORKLOADS["workloads"][workload]["keys"][0]
        r = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--sf", WORKLOADS["smoke_sf"],
             "--keys", key],
            cwd=ROOT, capture_output=True, text=True, timeout=180)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_one_key_per_workload(self):
        for workload in WORKLOADS["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    res = self.run_bench(workload, trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[kind]}
                    got = {n: v["unit"] for n, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for n, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), n)
                    if trace:
                        self.assertEqual(res["metrics"]["tables.pass_builds"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
