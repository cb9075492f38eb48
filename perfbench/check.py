"""Output checks for the benchmark.

Entry workloads: every (pass, entry) output the harness wrote is reduced
to a digest and compared with the digest of the entry's DuckDB oracle
SQL run over the same generated tables. The canonical forms are the
project's own, from tools/verify_local.py. Results of at most
ORDERED_MAX_ROWS rows are compared row by row in order, as its python
path does, so a dropped ORDER BY fails. Larger results are compared as a
multiset (count, xor and sum of row hashes), as its fast path does.
Oracle digests are cached per (input digest, SQL).

iceberg_native: every test id scored exactly once in each of the six
stacking submissions, every prediction in [0, 1], OOF log-loss < ln 2,
and identical submissions across the passes of a run and across runs of
one build on the same inputs.
"""
import decimal
import glob
import hashlib
import json
import math
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from verify_local import _describe, _digest, canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORDERED_MAX_ROWS = 100_000


def _eq_form(v):
    """Map a canon() value to one whose repr is equal exactly when the
    values compare == (Decimal 5.0 == 5.00, -0.0 == 0.0, dicts by key)."""
    if isinstance(v, tuple):
        return tuple(_eq_form(x) for x in v)
    if isinstance(v, float) and v == 0:
        return 0.0
    if isinstance(v, decimal.Decimal) and v.is_finite():
        return decimal.Decimal(0) if v == 0 else v.normalize()
    if isinstance(v, dict):
        return tuple(sorted((k, _eq_form(x)) for k, x in v.items()))
    return v


def digest(con, src):
    """(sorted column names, row count, digest) of a query result: rows in
    order up to ORDERED_MAX_ROWS, beyond that a multiset digest."""
    n = con.execute(f"SELECT count(*) FROM ({src})").fetchone()[0]
    if n > ORDERED_MAX_ROWS:
        cols_types = _describe(con, src)
        d = _digest(con, src, cols_types)
        if d is not None:
            return sorted(c for c, _ in cols_types), n, f"multiset:{d[1]}:{d[2]}"
    cur = con.execute(src)
    cols = [d[0] for d in cur.description]
    h = hashlib.sha256()
    for row in canon(cur.fetchall(), cols):
        h.update(repr(_eq_form(row)).encode())
        h.update(b"\n")
    return sorted(cols), n, "ordered:" + h.hexdigest()


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _load_cache(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _source_digest(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# cached oracle digests are only valid for the canonical form that made them
SCHEME = _source_digest(__file__, os.path.join(ROOT, "tools", "verify_local.py"))


def _save_cache(cache, path):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, path)


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def _try_digest(con, src):
    """digest() on a cursor of its own, or the DuckDB error as a string."""
    try:
        return list(digest(con.cursor(), src))
    except duckdb.Error as e:
        return str(e)[:200]


def check_entries(data_dir, out_dir, ops, cache_path):
    """Return {(name, pass): error-or-None} for every op record that ran.
    The digests run on four threads, each on its own DuckDB cursor."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    input_digest = file_digest(glob.glob(os.path.join(data_dir, "*.parquet")))
    cache = _load_cache(cache_path)
    verdict = {}
    done = [op for op in ops if op["err"] is None and op["name"] in oracle]
    for op in ops:
        if op not in done:
            verdict[(op["name"], op["pass"])] = op["err"] or "no oracle SQL"
    ck = {op["name"]: hashlib.sha256((SCHEME + input_digest + "\0" + oracle[op["name"]]).encode())
          .hexdigest() for op in done}
    with ThreadPoolExecutor(4) as pool:
        want = {n: pool.submit(_try_digest, con, oracle[n]) for n, k in ck.items() if k not in cache}
        # passes usually write byte-identical files: digest each content once
        by_content, got = {}, {}
        for op in done:
            parts = os.path.join(out_dir, f"p{op['pass']}", op["name"], "*.parquet")
            key = hashlib.sha256(b"".join(_read(p) for p in sorted(glob.glob(parts)))).digest()
            if key not in by_content:
                by_content[key] = pool.submit(_try_digest, con, f"SELECT * FROM read_parquet('{parts}')")
            got[(op["name"], op["pass"])] = by_content[key]
        for n, fut in want.items():
            if isinstance(fut.result(), list):
                cache[ck[n]] = fut.result()
        for (n, p), fut in got.items():
            w, g = cache.get(ck[n]), fut.result()
            if w is None:
                verdict[(n, p)] = f"oracle error: {want[n].result()}"
            elif not isinstance(g, list):
                verdict[(n, p)] = f"output unreadable: {g}"
            else:
                verdict[(n, p)] = None if g == w else \
                    f"digest mismatch: spark cols/rows {g[0]}/{g[1]} oracle {w[0]}/{w[1]}"
    _save_cache(cache, cache_path)
    return verdict


def read_ids(path):
    with open(path) as f:
        arr = json.load(f)
    return [r["id"] for r in arr]


def check_iceberg(data_dir, out_dir, ops, passes, modes, cache_path, code_digest):
    """Return ({pass: error-or-None}, submission digest of the last good pass).

    Submission digests are cached per (input digest, code digest): a later
    run of the same build on the same inputs must reproduce it, while a
    different build is free to move a 6-dp prediction."""
    test_ids = sorted(read_ids(os.path.join(data_dir, "test.json")))
    run_key = file_digest(glob.glob(os.path.join(data_dir, "*.json"))) + ":" + code_digest
    cache = _load_cache(cache_path)
    verdict, sub = {}, None
    for op, ps in zip(ops, passes):
        n = op["pass"]
        if op["err"] is not None:
            verdict[n] = op["err"]
            continue
        err, h = None, hashlib.sha256()
        for m in modes:
            parts = glob.glob(os.path.join(out_dir, f"p{n}", m, "*.csv"))
            rows = []
            for p in parts:
                with open(p) as f:
                    lines = f.read().splitlines()
                if lines and lines[0] == "id,is_iceberg":
                    lines = lines[1:]
                rows += [ln.split(",") for ln in lines]
            ids = sorted(r[0] for r in rows)
            if ids != test_ids:
                err = f"{m}: {len(ids)} rows for {len(test_ids)} test ids"
                break
            bad = [r for r in rows if not (0.0 <= float(r[1]) <= 1.0 and len(r[1].split(".")[-1]) == 6)]
            if bad:
                err = f"{m}: prediction out of [0,1] or not 6 dp: {bad[0]}"
                break
            h.update("\n".join([m] + sorted(",".join(r) for r in rows)).encode())
        loss = ps.get("oof_logloss")
        if err is None and not (loss is not None and loss < math.log(2)):
            err = f"oof_logloss {loss} not below ln 2"
        if err is None:
            d = h.hexdigest()
            if sub is not None and d != sub:
                err = "submission differs from an earlier pass of the same run"
            sub = sub or d
        verdict[n] = err
    if sub is not None:
        prev = cache.setdefault(run_key, sub)
        if prev != sub:
            verdict = {n: e or "submission differs from an earlier run of this build on the same inputs"
                       for n, e in verdict.items()}
        _save_cache(cache, cache_path)
    return verdict, sub
