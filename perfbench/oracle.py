"""Correctness checks, run once per benchmark run outside the timed region.

Batch workloads: each query's warm-up output is compared with its
`SparkEntry.oracleSql` run in DuckDB over the same generated tables, with
the canonicalisation of the repository's `scripts/check.py` (columns
sorted by name, integer columns normalised, exact frame equality).

Serve workloads: every HTTP response is checked against the seeded ground
truth at the store versions the read may legally observe (see
metrics.check_read), and the final table and index against the last
committed version.
"""
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import metrics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INDEX_PAGE = 256  # Gateway.IndexRoute's maxHits


def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    return df.reset_index(drop=True)


def check_queries(data_dir, out_dir, queries, oracle_sql):
    """{query: None if it matches its oracle, else a one-line reason}."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    result = {}
    for q in queries:
        path = os.path.join(out_dir, q)
        if not os.path.isdir(path):
            result[q] = "no output"
            continue
        if q not in oracle_sql:
            result[q] = "no oracle"
            continue
        try:
            sdf = canon(pd.read_parquet(path))
            odf = canon(con.sql(oracle_sql[q]).df())
            if list(sdf.columns) != list(odf.columns):
                result[q] = f"columns differ: {list(sdf.columns)} vs {list(odf.columns)}"
            elif len(sdf) != len(odf):
                result[q] = f"row count differs: {len(sdf)} vs {len(odf)}"
            else:
                pd.testing.assert_frame_equal(sdf, odf, check_dtype=True, check_exact=True)
                result[q] = None
        except Exception as e:  # any failure to compare is a mismatch
            result[q] = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
    con.close()
    return result


# --- serve workloads ------------------------------------------------------

def load_batches(data_dir, count):
    """The changelog's first `count` batches as lists of row dicts: the
    events table, which builds the store, then the writer's batches."""
    serve = os.path.join(data_dir, "serve")
    names = sorted(n for n in os.listdir(serve) if n.endswith(".parquet"))[:count - 1]
    return [pq.read_table(p).to_pylist() for p in
            [os.path.join(data_dir, "events.parquet")] + [os.path.join(serve, n) for n in names]]


class Truth:
    """Latest live row per user after each version (version v = base batch
    plus v drained batches)."""

    def __init__(self, batches):
        latest, self.versions, self._pages = {}, [], {}
        for rows in batches:
            for r in rows:
                key = (r["ts"], r["event_id"])
                cur = latest.get(r["user_id"])
                if cur is None or key > (cur["ts"], cur["event_id"]):
                    latest[r["user_id"]] = r
            self.versions.append({u: r for u, r in latest.items()
                                  if (r["value"] or 0.0) >= 20.0})

    def kv(self, v, user):
        r = self.versions[v].get(user)
        return r["event_id"] if r else None

    def index(self, v, event_type, band):
        key = (v, event_type, band)
        if key not in self._pages:
            hits = sorted([u, r["event_id"]] for u, r in self.versions[v].items()
                          if r["event_type"] == event_type
                          and int((r["value"] or 0.0) // 50.0) == band)
            self._pages[key] = hits[:INDEX_PAGE]
        return self._pages[key]

    def expected(self, route, arg, v):
        return self.kv(v, arg) if route == "kv" else self.index(v, arg[0], arg[1])


def check_reads(truth, reads, commits, slack_ms=5.0):
    """Counts of ok / stale / wrong / error reads, and the first few reads
    that were not ok. A read that started after a commit finished must
    observe that commit or a later one; `slack_ms` absorbs the clock
    difference between the two processes."""
    ends = [c["end"] for c in commits]
    starts = [c["start"] for c in commits]
    counts = {"ok": 0, "stale": 0, "wrong": 0, "error": 0}
    bad = []
    for r in reads:
        if r["status"] not in (200, 404):
            verdict = "error"
        else:
            v_lo, v_hi = metrics.versions_at(ends, starts, r["start"] - slack_ms,
                                             r["end"] + slack_ms)
            expected = [truth.expected(r["route"], r["arg"], v)
                        for v in range(0, min(v_hi, len(truth.versions) - 1) + 1)]
            verdict = metrics.check_read(expected, r["result"], v_lo, v_hi)
        counts[verdict] += 1
        if verdict != "ok" and len(bad) < 5:
            bad.append(dict(r, verdict=verdict))
    return counts, bad


def check_final_store(truth, v, check_dir):
    """None if the drained table and index equal version v, else a reason."""
    table = pq.read_table(os.path.join(check_dir, "table")).to_pylist()
    live = {r["user_id"]: r["event_id"] for r in table if not r["tombstone"]}
    want = {u: r["event_id"] for u, r in truth.versions[v].items()}
    if live != want:
        return f"table differs from version {v}: {len(live)} vs {len(want)} live keys"
    index = {(r["index_key"], r["user_id"])
             for r in pq.read_table(os.path.join(check_dir, "index")).to_pylist()}
    want_idx = set()
    for u, r in truth.versions[v].items():
        want_idx.add((r["event_type"], u))
        want_idx.add((f"band:{int((r['value'] or 0.0) // 50.0)}", u))
    if index != want_idx:
        return f"index differs from version {v}: {len(index)} vs {len(want_idx)} postings"
    return None
