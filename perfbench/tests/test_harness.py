"""Harness self-test: a planted sleep must be attributed to the right span.

Run from the root of a source checkout:

    python3 -m unittest discover -s perfbench/tests

The `selftest` workload runs two sibling stages over one 8-row,
4-partition frame; only `stage:sleepy` calls a benchmark-side UDF that
sleeps per row. Its tracer spans must show the sleep in that stage's
self time and task run time, and not in its sibling or its parent.
"""
import json
import os
import shutil
import sys
import time
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402

SLEEP_S = 0.2
ROWS_PER_TASK = 2


class PlantedSleep(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        os.makedirs(bdir, exist_ok=True)
        jar, _ = run.build(root, bdir)
        run_dir = os.path.join(bdir, "run", "selftest")
        shutil.rmtree(run_dir, ignore_errors=True)
        out, tmp = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
        os.makedirs(out)
        os.makedirs(tmp)
        spec = {"workload": "selftest", "seed": 1, "passes": 4, "trace": 1,
                "cores": run.CORES, "out": out, "data": run_dir,
                "result": os.path.join(run_dir, "result.json"), "ops": "",
                "sleep_ms": int(SLEEP_S * 1000), "spawn_ms": int(time.time() * 1000)}
        spec_path = os.path.join(run_dir, "spec.properties")
        with open(spec_path, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in spec.items())
        rc = run.run_harness(jar, spec_path, run_dir, tmp, 170)
        assert rc == 0, f"harness exited {rc}, see {run_dir}/harness.log"
        with open(os.path.join(out, "spans.json")) as f:
            cls.spans = json.load(f)
        with open(spec["result"]) as f:
            cls.result = json.load(f)

    def traced_passes(self):
        passes = [s for s in self.spans if s["name"] == "pass"]
        self.assertTrue(passes)
        for p in passes:
            kids = {s["name"]: s for s in self.spans if s["parent"] == p["id"]}
            yield p, kids["stage:sleepy"], kids["stage:plain"]

    def test_sleep_lands_in_its_stage_self_time(self):
        task_wall = SLEEP_S * ROWS_PER_TASK
        for p, sleepy, plain in self.traced_passes():
            self.assertGreaterEqual(sleepy["self_s"], task_wall * 0.95)
            self.assertLess(plain["self_s"], task_wall / 2)
            self.assertLess(p["self_s"], task_wall / 2)

    def test_sleep_lands_in_its_stage_task_time(self):
        task_time = SLEEP_S * ROWS_PER_TASK * run.CORES
        for _, sleepy, plain in self.traced_passes():
            self.assertGreaterEqual(sleepy["counts"]["exec.task_run_s"], task_time * 0.95)
            self.assertLess(plain["counts"].get("exec.task_run_s", 0.0), task_time / 4)
            # same plan on both sides: the sleep changes time, not task count
            self.assertEqual(sleepy["counts"]["exec.tasks"], plain["counts"]["exec.tasks"])

    def test_per_layer_totals_include_the_sleep(self):
        layers = self.result["per_layer"]
        self.assertGreaterEqual(layers["exec.task_run_s"], SLEEP_S * ROWS_PER_TASK * run.CORES * 0.95)
        self.assertIn("trace.overhead_s", layers)


if __name__ == "__main__":
    unittest.main()
