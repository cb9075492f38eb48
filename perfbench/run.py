#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the harness jar (library
sources + perfbench/harness) once per source digest, generates the
workload's inputs from the seed, runs one closed-loop client on
local[4] for a fixed number of passes (the given seconds over the
workload's nominal pass length), checks every output, and prints the
result as the last stdout line. A detail line before it carries the
input sizes, sample counts and the tail percentile. Build
products, inputs and outputs live under $CARGO_TARGET_DIR (default
.bench_build) in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

CORES = 4
HEAP = "4g"
DEADLINE_S = 170  # per run, the build excluded

# One closed-loop pass runs every entry below once. Families follow the
# entry-name prefixes of graft.Queries; why these, see README.md.
ENTRY_OPS = [
    # batch: planning, codegen and scheduling dominate at sf0.1. One entry
    # per family and per latency twelfth of the 121 batch entries, as
    # select_batch.py picks them from BENCH_LOCAL_r19.json.
    "p1_projection", "s5_partitioned_prune", "a10_size_feature",
    "w_retention_cohort", "g_cms_sketch", "o_cdc_apply", "j_range_bucketed",
    "sq_subqueries", "ens_pushout_median", "ml_tta", "f_map_json",
    "q1_pricing_summary",
    # streaming: micro-batch planning, state store, checkpoints
    "st_stream_exec",
    # curation operators, one or more per family
    "dd_ngram_jaccard", "sim_hard_negatives", "pl_url_canonical", "tx_stats",
    "gr_kcore", "mm_video_frames",
]

# pass_s: the nominal length of one timed pass on a 4-vCPU host. A run
# makes --seconds / pass_s passes whatever its speed, so every run of a
# workload reports the same statistics over the same sample count. The
# pipeline runs one pass in a run: its steps are the same every pass, and
# a second pass would cost a run as much time as its set-up saves.
WORKLOADS = {
    "iceberg_native": {"inputs": "sar", "n_train": 16, "n_test": 8, "pass_s": 25},
    "entries_sf01": {"inputs": "tables", "sf": 0.1, "ops": ENTRY_OPS, "pass_s": 12.5},
}
MODES = ["mean", "median", "pushout_median", "minmax_mean", "minmax_median",
         "minmax_bestbase"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    pats = ["src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*.scala"]
    return sorted(p for pat in pats for p in glob.glob(os.path.join(root, pat), recursive=True)
                  if os.path.isfile(p))


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME, else the
    first spark-submit on PATH that sits in a distribution with jars."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found: set SPARK_HOME")


def build(root, bdir):
    """sbt package of the harness; reused while the sources are unchanged.
    Returns (jar, digest of the sources it was built from)."""
    files = source_files(root)
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    jar = os.path.join(bdir, f"graftbench-{digest}.jar")
    if os.path.isfile(jar):
        return jar, digest
    env = dict(os.environ, GRAFTBENCH_JAR=jar, GRAFTBENCH_SPARK_JARS=spark_jars(),
               COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=os.path.join(root, "perfbench", "harness"), env=env,
                            stdout=lf, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0 or not os.path.isfile(jar):
        fail(f"harness build failed (rc={rc}), see {log}")
    return jar, digest


def pass_count(cfg, seconds, trace):
    """Timed passes of a run. A traced run splits them four ways
    (untraced, traced, traced, untraced), so it rounds up to a multiple
    of 4."""
    n = max(1, round(seconds / cfg["pass_s"]))
    return -(-n // 4) * 4 if trace else n


def make_inputs(cfg, seed, dst):
    """Generate the workload's inputs; returns {table: {rows, bytes}}."""
    if cfg["inputs"] == "sar":
        gen.sar(dst, cfg["n_train"], cfg["n_test"], seed)
        sizes = {}
        for name in ("train", "test"):
            p = os.path.join(dst, f"{name}.json")
            with open(p) as f:
                sizes[name] = {"rows": len(json.load(f)), "bytes": os.path.getsize(p)}
        return sizes
    gen.tables(dst, cfg["sf"], seed)
    import pyarrow.parquet as pq
    return {os.path.basename(p)[:-8]: {"rows": pq.ParquetFile(p).metadata.num_rows,
                                      "bytes": os.path.getsize(p)}
            for p in sorted(glob.glob(os.path.join(dst, "*.parquet")))}


def tail(samples):
    """(p, value): the highest whole percentile p with at least 10 samples
    beyond it (nearest rank), or the median when fewer than 20 samples."""
    xs = sorted(samples)
    n = len(xs)
    pct = int(100 * (n - 10) // n) if n >= 20 else 50
    if pct <= 50:
        return 50, statistics.median(xs)
    return pct, xs[-(-pct * n // 100) - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "perfbench", "harness", "build.sbt"))):
        fail("run from the root of a source checkout (src/main/scala/graft not found)")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    jar, code_digest = build(root, bdir)

    cfg = WORKLOADS[a.workload]
    passes = pass_count(cfg, a.seconds, a.trace)
    t_start = time.time()
    run_dir = os.path.join(bdir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    t0 = time.time()
    sizes = make_inputs(cfg, a.seed, data)
    gen_s = time.time() - t0

    spec = {"workload": a.workload, "seed": a.seed, "passes": passes,
            "trace": a.trace, "cores": CORES, "out": out, "data": data,
            "result": os.path.join(run_dir, "result.json"),
            "ops": ",".join(cfg.get("ops", [])), "sleep_ms": 0,
            "spawn_ms": int(time.time() * 1000)}
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in spec.items())
    rc = run_harness(jar, spec_path, run_dir, tmp, DEADLINE_S - (time.time() - t_start))
    if rc != 0 or not os.path.isfile(spec["result"]):
        fail(f"harness exited {rc}, see {run_dir}/harness.log", 1)
    with open(spec["result"]) as f:
        res = json.load(f)
    if len(res["passes"]) != passes:
        fail(f"harness ran {len(res['passes'])} timed passes, not {passes}", 1)
    report(a, res, sizes, gen_s, data, out, bdir, code_digest)


def run_harness(jar, spec_path, run_dir, tmp, timeout):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}",
            "graftbench.Harness", spec_path]
    with open(os.path.join(run_dir, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=os.path.dirname(run_dir), stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(10.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def report(a, res, sizes, gen_s, data, out, bdir, code_digest):
    import check  # needs tools/verify_local.py of the checkout
    ops = [o for o in res["ops"] if o["pass"] >= 0]  # pass -1 is the warm-up
    passes = res["passes"]
    if a.workload == "iceberg_native":
        runs = [o for o in ops if o["name"] == "pipeline"]
        verdict, sub = check.check_iceberg(data, out, runs, passes, MODES,
                                           os.path.join(bdir, "iceberg_digests.json"),
                                           code_digest)
        lat = [o["lat"] for o in runs]  # one operation = one pipeline pass
        errors = {f"pass{n}": e for n, e in verdict.items() if e}
        extra = {"submission_digest": sub,
                 "oof_logloss": [p.get("oof_logloss") for p in passes]}
    else:
        verdict = check.check_entries(data, out, ops, os.path.join(bdir, "oracle_digests.json"))
        lat = [o["lat"] for o in ops]
        errors = {f"{n}@p{p}": e for (n, p), e in verdict.items() if e}
        extra = {}
    attempted = len(verdict)
    failed = len(errors)
    walls = [p["wall"] for p in passes if not p["traced"]]
    pct, tail_v = tail(lat)
    setup_s = gen_s + res["launch_s"] + res["session_s"] + res["warm_s"]
    batches = res["batch_s"]
    detail = {"workload": a.workload, "seed": a.seed, "inputs": sizes,
              "passes": len(passes), "op_samples": len(lat), "op_tail_pct": pct,
              "failed_frac": failed / max(1, attempted),
              "setup_parts_s": {"generate": gen_s, "launch": res["launch_s"],
                                "session": res["session_s"], "warm_up": res["warm_s"]},
              "stream_batches": len(batches),
              "batch_p50_s": statistics.median(batches) if batches else None,
              "errors": dict(list(errors.items())[:20]), **extra}
    print(json.dumps(detail))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["per_layer"].items())}
        if batches:
            _, bt = tail(batches)
            metrics["streaming.batch_p50_s"] = {"value": statistics.median(batches), "unit": "s"}
            metrics["streaming.batch_tail_s"] = {"value": bt, "unit": "s"}
        else:
            metrics["streaming.batch_p50_s"] = metrics["streaming.batch_tail_s"] = {"value": 0.0, "unit": "s"}
        oof = [p.get("oof_logloss") for p in passes if p.get("oof_logloss") is not None]
        metrics["Model.oof_logloss"] = {"value": statistics.median(oof) if oof else 0.0, "unit": "nats"}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_frac": {"value": 1.0 - failed / max(1, attempted), "unit": "ratio"},
            # the peak every pass reaches: the order is reshuffled per pass, and
            # a pass whose order lines up two operations' short-lived retention
            # (broadcast blocks awaiting the Spark cleaner) is not the reading
            "heap_live_peak_mb": {"value": min(p["heap_mb"] for p in passes if not p["traced"]),
                                  "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(k):
    if k.endswith("_s"):
        return "s"
    if k.endswith("_bytes") or k == "sink.bytes":
        return "bytes"
    if k.endswith("_share") or k.endswith("_util") or k.endswith("_per_query"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
