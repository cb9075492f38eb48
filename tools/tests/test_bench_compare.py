"""Exit codes and record handling of tools/bench_compare.py.

Run from the root of a source checkout:

    python3 -m unittest discover -s tools/tests

Baseline mode reads PLAN_BASELINE.json next to the script's parent
directory, so each test copies the script into a temporary tree with
its own baseline and runs it there.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "bench_compare.py")

VECTOR = {"exchanges": 2, "broadcasts": 1, "scans": 3, "shuffle_rows": 500,
          "shuffle_bytes": 4096, "spill_bytes": 0}


def record(plan=None, **queries):
    """A record with the fields Bench writes; no host-factor fields."""
    rec = {"metric": "total", "value": sum(queries.values()), "unit": "sec",
           "queries": queries, "n_queries": len(queries), "n_errors": 0,
           "errors": {}, "passes": [1.0, 1.0], "ckpt_leak": 0,
           "sf": "/data/sf0.1"}
    if plan is not None:
        rec["plan"] = plan
    return rec


class BenchCompare(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.root)
        os.mkdir(os.path.join(self.root, "tools"))
        self.script = shutil.copy(SCRIPT, os.path.join(self.root, "tools"))
        self.write("PLAN_BASELINE.json",
                   {"n_entries": 1, "sf": "sf0.1", "source": "test",
                    "plan": {"j2_semi_join": VECTOR}})

    def write(self, name, obj):
        path = os.path.join(self.root, name)
        with open(path, "w") as f:
            json.dump(obj, f)
        return path

    def run_compare(self, *paths):
        return subprocess.run([sys.executable, self.script, *paths],
                              capture_output=True, text=True, timeout=60)

    def test_baseline_mode_fails_on_added_exchange(self):
        plan = {"j2_semi_join": dict(VECTOR, exchanges=VECTOR["exchanges"] + 1)}
        p = self.run_compare(self.write("rec.json", record(plan, j2_semi_join=0.3)))
        self.assertEqual(p.returncode, 1, p.stdout + p.stderr)
        self.assertIn("j2_semi_join: exchanges 2 -> 3", p.stdout)

    def test_baseline_mode_passes_on_identical_plan(self):
        plan = {"j2_semi_join": dict(VECTOR)}
        p = self.run_compare(self.write("rec.json", record(plan, j2_semi_join=0.3)))
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("no plan regressions across 1 common entries", p.stdout)

    def test_baseline_mode_rejects_record_without_plan(self):
        p = self.run_compare(self.write("rec.json", record(j2_semi_join=0.3)))
        self.assertEqual(p.returncode, 2, p.stdout + p.stderr)
        self.assertIn("carries no plan map", p.stdout)

    def test_two_record_mode_without_host_fields(self):
        plan = {"j2_semi_join": dict(VECTOR)}
        old = self.write("old.json", record(plan, j2_semi_join=0.3, g_cube=1.0))
        new = self.write("new.json", record(plan, j2_semi_join=0.9, w_new=0.5))
        p = self.run_compare(old, new)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("j2_semi_join: 0.30 -> 0.90", p.stdout)
        self.assertIn("added (0.5 s total): w_new=0.50", p.stdout)
        self.assertIn("removed: g_cube", p.stdout)


if __name__ == "__main__":
    unittest.main()
