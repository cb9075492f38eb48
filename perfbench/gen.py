"""Seeded input generators for the benchmark.

Two input families:

* ``tables(dst, sf, seed)`` writes the ten star-schema + curation tables
  (``region`` ... ``embeddings``) the query entries read, one parquet
  file each, with the schemas and value distributions of the project's
  reference test data (uniform keys, TPC-H-like domains, a word-bag
  ``documents`` corpus with ~5% " dup"-suffixed near-duplicates, unit
  64-d ``embeddings``).
* ``sar(dst, n_train, n_test, seed)`` writes Kaggle-shaped
  ``train.json`` / ``test.json``: native 75x75 two-band dB scenes, a
  bright target blob whose shape depends on the label, and dirty
  ``inc_angle`` strings ("na") in train.

Same (arguments, seed) -> byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "blue old small new large hot cold red".split()
NOUNS = "widget gizmo ring gear bolt plate rod anvil".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PTYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def tables(dst, sf, seed):
    """Write the ten tables at scale factor ``sf`` (0.1 = 600k lineitem rows)."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32 = pa.int32()

    _write(dst, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dst, "part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    _write(dst, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(dst, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    # one month of events in id order, microsecond timestamps
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(dst, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # word-bag corpus; ~5% of documents repeat an earlier one + " dup"
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    _write(dst, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


SIDE = 75


def _scene(rng, iceberg):
    """Two 75x75 dB bands: speckled sea clutter plus a bright target. Ships
    are small and very bright in HH; icebergs are larger, dimmer blobs."""
    yy, xx = np.mgrid[0:SIDE, 0:SIDE]
    cy, cx = rng.uniform(25, 50, 2)
    r = rng.uniform(5, 9) if iceberg else rng.uniform(2, 4)
    blob = np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * r * r))
    peak1 = rng.uniform(12, 18) if iceberg else rng.uniform(22, 30)
    peak2 = rng.uniform(10, 14) if iceberg else rng.uniform(8, 12)
    b1 = rng.normal(-24.0, 2.5, (SIDE, SIDE)) + peak1 * blob
    b2 = rng.normal(-26.0, 2.0, (SIDE, SIDE)) + peak2 * blob
    return b1.ravel(), b2.ravel()


def _floats(a):
    return "[" + ",".join(f"{v:.5f}" for v in a.tolist()) + "]"


def sar(dst, n_train, n_test, seed):
    """Write train.json (balanced labels, ~8% "na" angles after the first
    record, so the forward fill always has a value to carry) and test.json."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    ids = rng.choice(16 ** 8, n_train + n_test, replace=False)
    for name, lo, hi, labelled in (("train", 0, n_train, True),
                                   ("test", n_train, n_train + n_test, False)):
        labels = rng.permutation(np.arange(hi - lo) % 2)
        recs = []
        for i in range(lo, hi):
            y = int(labels[i - lo])
            b1, b2 = _scene(rng, y)
            ang = float(rng.uniform(30.0, 46.0))
            angle = '"na"' if labelled and i > lo and rng.random() < 0.08 else f"{ang:.4f}"
            rec = (f'{{"id":"{ids[i]:08x}","band_1":{_floats(b1)},'
                   f'"band_2":{_floats(b2)},"inc_angle":{angle}')
            recs.append(rec + (f',"is_iceberg":{y}}}' if labelled else "}"))
        with open(os.path.join(dst, f"{name}.json"), "w") as f:
            f.write("[" + ",\n".join(recs) + "]")
