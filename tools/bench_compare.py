#!/usr/bin/env python3
"""Compare Bench records (target/bench_last.json or a committed copy).

  python3 tools/bench_compare.py [REC]   REC's plan map vs PLAN_BASELINE.json;
                                         exit 1 on a plan regression, 2 if
                                         REC carries no plan map
  python3 tools/bench_compare.py OLD NEW per-query deltas, regressions,
                                         queries added/removed, plan diff

Wall times here are one host's two-pass minima; speed claims come from
perfbench's interleaved same-host A/B, not from this compare.
"""
import json
import signal
import sys

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # clean exit under `| head`


def load(path):
    line = open(path).read()
    return json.loads(line[line.index("{"):])


def total(queries):
    """Sum of per-entry minima; errored entries (-1) are left out."""
    return sum(t for t in queries.values() if t >= 0)


def plan_diff(pa, pb):
    """Diff two per-entry plan-metric maps (old -> new). Exchange /
    broadcast / scan counts flag on ANY change; shuffle volume flags on
    >1.5x growth past noise floors; any NEW spill flags. These are
    code+data properties — a flagged change is real even when every
    wall-time moved with the VM."""
    common_p = sorted(set(pa) & set(pb))
    regress, improve = [], []
    for k in common_p:
        ma, mb = pa[k], pb[k]
        for f in ("exchanges", "broadcasts", "scans"):
            va, vb = ma.get(f, 0), mb.get(f, 0)
            if vb > va:
                regress.append(f"{k}: {f} {va} -> {vb}")
            elif vb < va:
                improve.append(f"{k}: {f} {va} -> {vb}")
        ra, rb = ma.get("shuffle_rows", 0), mb.get("shuffle_rows", 0)
        if rb > ra * 1.5 + 1000:
            regress.append(f"{k}: shuffle_rows {ra} -> {rb}")
        ba, bb = ma.get("shuffle_bytes", 0), mb.get("shuffle_bytes", 0)
        if bb > ba * 1.5 and bb - ba > 1 << 20:
            regress.append(f"{k}: shuffle_bytes {ba} -> {bb}")
        if mb.get("spill_bytes", 0) > 0 and ma.get("spill_bytes", 0) == 0:
            regress.append(f"{k}: NEW spill {mb['spill_bytes']} bytes")
        # streaming vectors (r14): batch count is exact-deterministic —
        # ANY change flags; state/input/sink rows are deterministic at a
        # fixed sf, so a >10% move is real (a batch-splitting or state-
        # retention change), not noise
        sa, sb = ma.get("st_batches", 0), mb.get("st_batches", 0)
        if sa != sb and (sa or sb):
            regress.append(f"{k}: st_batches {sa} -> {sb}")
        for f in ("st_input_rows", "st_state_rows", "st_sink_rows"):
            va, vb = ma.get(f, 0), mb.get(f, 0)
            if (va or vb) and abs(vb - va) > 0.1 * max(va, 1):
                regress.append(f"{k}: {f} {va} -> {vb}")
    if regress:
        print("PLAN regressions (weather-immune — real even if times look flat):")
        for r in regress:
            print("  " + r)
    else:
        print(f"no plan regressions across {len(common_p)} common entries")
    if improve:
        print("plan improvements: " + "; ".join(improve))
    only_new = sorted(set(pb) - set(pa))
    if only_new:
        print(f"plan rows only in the newer record ({len(only_new)}): "
              + ", ".join(only_new))
    only_old = sorted(set(pa) - set(pb))
    if only_old:
        # an entry that VANISHED from the newer record is itself a
        # regression signal (dropped registration, failed both passes)
        print(f"WARNING: plan rows MISSING from the newer record "
              f"({len(only_old)}): " + ", ".join(only_old))
    return bool(regress)


def baseline_mode(argv):
    """Default mode (VERDICT r13 #3): with zero or one args, diff a
    record's plan map against the COMMITTED PLAN_BASELINE.json — the
    tracked reference vector the deterministic metrics exist to serve.
    `bench_compare.py` -> target/bench_last.json vs the baseline;
    `bench_compare.py REC` -> REC vs the baseline. Exits 1 on any plan
    regression so a round close can gate on it."""
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_path = os.path.join(root, "PLAN_BASELINE.json")
    rec_path = argv[0] if argv else os.path.join(root, "target", "bench_last.json")
    base = json.load(open(base_path))
    rec = load(rec_path)
    prec = rec.get("plan")
    if not prec:
        print(f"ERROR: {rec_path} carries no plan map — Bench's plan "
              "emission regressed or this is its stdout summary line")
        sys.exit(2)
    bsf, rsf = base.get("sf", ""), str(rec.get("sf", ""))
    if bsf and bsf not in rsf:
        print(f"WARNING: baseline is pinned at sf '{bsf}' but the record ran "
              f"'{rsf}' — shuffle rows/bytes are sf-dependent, counts still hold")
    print(f"plan-vector diff: {base.get('source', base_path)} (baseline) -> {rec_path}")
    if plan_diff(base["plan"], prec):
        sys.exit(1)


def main():
    if len(sys.argv) < 3:
        baseline_mode(sys.argv[1:])
        return
    a, b = load(sys.argv[1]), load(sys.argv[2])
    qa, qb = a["queries"], b["queries"]
    print(f"total: {total(qa):.1f} s -> {total(qb):.1f} s | "
          f"queries: {a.get('n_queries', len(qa))} -> {b.get('n_queries', len(qb))} | "
          f"errors: {a.get('n_errors', '?')} -> {b.get('n_errors', '?')}")
    common = sorted(set(qa) & set(qb), key=lambda k: qa[k] - qb[k])
    regressions = [(qb[k] - qa[k], k) for k in common if qb[k] > qa[k] * 1.3 and qb[k] - qa[k] > 0.3]
    if regressions:
        print("regressions (>30% and >0.3s):")
        for d, k in sorted(regressions, reverse=True):
            print(f"  {k}: {qa[k]:.2f} -> {qb[k]:.2f} (+{d:.2f})")
    else:
        print("no per-query regressions (>30% and >0.3s)")
    # deterministic plan metrics (r13): exchange counts / shuffle volume /
    # spill are code+data properties, immune to host weather — a flagged
    # change here is REAL even when every wall-time moved with the VM
    pa, pb = a.get("plan"), b.get("plan")
    if pa and pb:
        plan_diff(pa, pb)
    elif pb and not pa:
        print("plan metrics: only the newer record carries them "
              "(older is a pre-r13 baseline) — seconds-only compare above")
    elif pa and not pb:
        # the reverse asymmetry is a Bench REGRESSION, not a baseline
        # quirk: the newer record stopped emitting the plan map and the
        # compare silently degraded to seconds-only (r13 ADVICE)
        print("WARNING: the NEWER record carries no plan metrics but the "
              "older does — Bench's plan emission regressed; this compare "
              "is seconds-only and weather-blind")
    added = {k: qb[k] for k in qb if k not in qa}
    removed = sorted(k for k in qa if k not in qb)
    if added:
        print(f"added ({sum(added.values()):.1f} s total): "
              + ", ".join(f"{k}={v:.2f}" for k, v in sorted(added.items())))
    if removed:
        print("removed: " + ", ".join(removed))


if __name__ == "__main__":
    main()
