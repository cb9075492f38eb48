#!/usr/bin/env python3
"""Refresh PLAN_BASELINE.json from a full bench record (harness-side).

Usage: python3 tools/make_plan_baseline.py [record] [source-label]
Defaults: target/bench_last.json, "<record> (local close run)".

Guard rails:
- refuses a record without a plan map (Bench's stdout summary line);
- refuses a record with errors (a failed entry's plan row is partial).
"""
import json
import os
import sys


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rec_path = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(root, "target", "bench_last.json")
    label = sys.argv[2] if len(sys.argv) > 2 else f"{os.path.basename(rec_path)} (local close run)"
    line = open(rec_path).read()
    rec = json.loads(line[line.index("{"):])
    plan = rec.get("plan")
    if not plan:
        sys.exit("ERROR: record carries no plan map — use target/bench_last.json, "
                 "not Bench's stdout summary line")
    if rec.get("n_errors", 0):
        sys.exit(f"ERROR: record has {rec['n_errors']} errored entries — "
                 "a failed entry's plan row is partial; fix and re-run Bench")
    # rec["sf"] may be the full dir path ("/root/testdata/sf0.1") or a
    # bare number — normalize to the "sf0.1" spelling the baseline pins
    sf = str(rec.get("sf", ""))
    sf = os.path.basename(sf.rstrip("/"))
    if not sf.startswith("sf"):
        sf = "sf" + sf
    out = {
        "n_entries": len(plan),
        "sf": sf,
        "source": label,
        "plan": {k: plan[k] for k in sorted(plan)},
    }
    dst = os.path.join(root, "PLAN_BASELINE.json")
    json.dump(out, open(dst, "w"), indent=1, sort_keys=True)
    print(f"wrote {dst}: {out['n_entries']} entries at {out['sf']}")


if __name__ == "__main__":
    main()
