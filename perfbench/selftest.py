#!/usr/bin/env python3
"""Self-test of the benchmark at its tiny configuration (sf0.001 lanes,
the golden `flights.Fixtures` pipeline):

  - every workload emits each metric named in BENCHMARK.json, with its
    unit, untraced (end-to-end) and traced (per-layer);
  - an injected throwing lane is counted as failed and adds no latency
    sample.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LANES = "q05_join_star,x123_bm25_topk,x179_topk_rewrite"


def bench(*args, keep=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--tiny", "--seed", "3",
           "--seconds", "1", "--lanes", LANES, *args]
    if keep:
        cmd += ["--keep", keep]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, out, names):
        self.assertEqual(set(out["metrics"]), set(names))
        for name, unit in names.items():
            self.assertEqual(out["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(out["metrics"][name]["value"], (int, float), name)

    def test_every_metric_on_every_workload(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        for w in self.spec["workloads"]:
            for trace, names in (("0", e2e), ("1", layer)):
                with self.subTest(workload=w["name"], trace=trace):
                    out = bench("--workload", w["name"], "--trace", trace)
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assert_metrics(out, names)
                    if trace == "0":
                        self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))

    def test_throwing_lane_is_failed_and_untimed(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as keep:
            out = bench("--workload", "lanes_serve", "--trace", "0", "--inject-fail", keep=keep)
            with open(os.path.join(keep, "result.json")) as f:
                res = json.load(f)
        lanes = len(LANES.split(","))
        self.assertFalse(out["correct"])
        # one failure per pass: the set-up pass and each measured pass
        self.assertGreaterEqual(out["failed"], 2)
        self.assertEqual(out["failed"], len(res["failures"]))
        self.assertTrue(all(f.startswith("selftest_throw:") for f in res["failures"]))
        # only the real lanes' calls were timed
        self.assertEqual(len(res["setup_s"]), lanes)
        self.assertEqual(len(res["op_s"]), (out["failed"] - 1) * lanes)
        self.assertEqual(res["unit_s"], [])


if __name__ == "__main__":
    unittest.main(verbosity=2)
