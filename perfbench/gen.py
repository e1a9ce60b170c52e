"""Seeded input generator: the ten parquet tables graft's queries read, plus
the changelog batches the serve workloads' writer appends. The same
(seed, sf) always writes the same bytes of data. Row counts, key ranges and
value distributions follow the repository's sf0.1 test data (see
perfbench/README.md, "Inputs"): uniform foreign keys, 1500 users with
uniform event types and Exp(mean 50) values, 5000 documents of 10-100 words
drawn uniformly from a 30-word vocabulary with ~5% near-duplicates.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)

EVENTS_DAYS = 30
# serve changelog: the events table builds the store; each writer batch is
# the next hour of event time at the events table's own rate
SERVE_BATCHES = 4


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _write(outdir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def _events(rng, n, users, first_id, t0_us, span_us):
    ts = np.sort(rng.integers(0, span_us, n)) + t0_us
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]
            texts.append(" ".join(words))
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tables(outdir, seed, sf):
    """Write the ten tables for scale factor `sf` (sf 0.1 = 600k lineitems)."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(outdir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(outdir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(outdir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(outdir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(outdir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                     "STANDARD"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    _write(outdir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(outdir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line))})
    _write(outdir, "events", _events(rng, n_ev, users(sf), 0, EVENTS_T0,
                                     EVENTS_DAYS * US_PER_DAY))
    _write(outdir, "documents", _documents(rng, max(500, int(50_000 * sf))))
    _write(outdir, "embeddings", _embeddings(rng, max(500, int(20_000 * sf))))


def users(sf):
    return int(15_000 * sf)


def serve_batches(outdir, seed, sf):
    """Write the serve workloads' changelog batches: batch k holds the
    events of hour k after the events table ends, for the same users at the
    table's rate (sf 0.1: 100k events over 30 days, 139 an hour)."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    n_ev = int(1_000_000 * sf)
    per_hour = round(n_ev / (EVENTS_DAYS * 24))
    first, t0 = n_ev, EVENTS_T0 + EVENTS_DAYS * US_PER_DAY
    for k in range(1, SERVE_BATCHES + 1):
        _write(outdir, f"batch_{k:04d}",
               _events(rng, per_hour, users(sf), first, t0, 3600 * 1_000_000))
        first, t0 = first + per_hour, t0 + 3600 * 1_000_000
