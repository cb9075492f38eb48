#!/usr/bin/env python3
"""Choose the batch entries of the entries_sf01 workload.

    python3 perfbench/select_batch.py [BENCH_LOCAL_r19.json]

The population is every batch entry of a graft.Bench record: every entry
that is not curation (dd, sim, pl, tx, gr, mm) or streaming (st). The
rule: sort the population by its recorded per-entry time, cut it into as
many equal-count latency bins as it has families, and give each bin one
entry of a different family. Among the assignments that cover every
family, take the one whose entries sit closest to their bins' middle
ranks (least total rank distance; ties go to the earlier name). The
chosen set then has one entry per family and one entry per latency
quantile, so its median and tail follow the population's.

Prints the chosen entries in bin order, then the population's and the
chosen set's latency quantiles.
"""
import json
import re
import statistics
import sys

NOT_BATCH = {"dd", "sim", "pl", "tx", "gr", "mm", "st"}


def family(name):
    return re.match(r"[a-z]+?(?=\d|_)", name).group(0)


def select(times):
    pop = sorted((t, n) for n, t in times.items() if family(n) not in NOT_BATCH)
    fams = sorted({family(n) for _, n in pop})
    k, n = len(fams), len(pop)
    bins = [range(b * n // k, (b + 1) * n // k) for b in range(k)]
    # best[b][f]: (rank distance, name) of family f's entry nearest bin b's middle
    best = []
    for b in bins:
        mid = (b.start + b.stop - 1) / 2
        row = {}
        for r in b:
            f = family(pop[r][1])
            cand = (abs(r - mid), pop[r][1])
            row[f] = min(row.get(f, cand), cand)
        best.append(row)
    # exact assignment over family subsets: cost[used] after the bins so far
    cost = {0: (0.0, ())}
    for row in best:
        nxt = {}
        for used, (c, picks) in cost.items():
            for i, f in enumerate(fams):
                if used >> i & 1 or f not in row:
                    continue
                cand = (c + row[f][0], picks + (row[f][1],))
                key = used | 1 << i
                if key not in nxt or cand < nxt[key]:
                    nxt[key] = cand
        cost = nxt
    full = cost.get((1 << k) - 1)
    if full is None:
        sys.exit("no assignment covers every family")
    return [t for t, _ in pop], list(full[1])


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_LOCAL_r19.json"
    with open(path) as f:
        times = json.load(f)["queries"]
    pop, chosen = select(times)
    print("\n".join(f"{n}\t{times[n]}" for n in chosen))
    for label, xs in (("population", pop), ("chosen", [times[n] for n in chosen])):
        q = statistics.quantiles(xs, n=10)
        print(f"{label}: n={len(xs)} p10={q[0]:.3f} p50={statistics.median(xs):.3f} "
              f"p90={q[-1]:.3f} max={max(xs):.3f} sum={sum(xs):.3f}")


if __name__ == "__main__":
    main()
