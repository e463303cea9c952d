"""Exact answers from DuckDB, computed from the same parquet files the
library reads.  DuckDB shares no code with ``dablooms_spark``, so these
answers are an independent oracle for the benchmark's correctness gates.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pyarrow as pa


def cached(path: str, name: str, compute):
    """``compute()``, kept beside the verified inputs at ``path``.  The
    inputs directory is replaced whenever the inputs are regenerated, and
    the file name carries a hash of this module, so a kept answer always
    belongs to the current inputs and oracle code."""
    with open(__file__, "rb") as fh:
        code = hashlib.sha256(fh.read()).hexdigest()[:12]
    target = os.path.join(path, f"_oracle-{name}-{code}.pkl")
    if os.path.exists(target):
        with open(target, "rb") as fh:
            return pickle.load(fh)
    out = compute()
    with open(target + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(target + ".tmp", target)
    return out


def _scan(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}')"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def bulk_build(corpus: str) -> dict:
    con = _con()
    n_text, n_url = con.execute(
        f"SELECT count(text), count(url) FROM {_scan(corpus)}").fetchone()
    return {"text_rows": n_text, "url_rows": n_url}


def probe_join(probe: str) -> dict:
    con = _con()
    dim = f"read_parquet('{os.path.join(probe, 'dim.parquet')}')"
    rows = f"read_parquet('{os.path.join(probe, 'probe', '*.parquet')}')"
    dim_keys, = con.execute(f"SELECT count(DISTINCT k) FROM {dim}").fetchone()
    probe_rows, semi = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE k IN (SELECT k FROM {dim})) "
        f"FROM {rows}").fetchone()
    return {"dim_keys": dim_keys, "probe_rows": probe_rows, "semi_rows": semi}


def recrawl(recrawl: str) -> dict:
    """Rows of each batch whose url no earlier batch holds."""
    con = _con()
    batches = sorted(glob.glob(os.path.join(recrawl, "batch-*.parquet")))
    new, rows = [], []
    for b, path in enumerate(batches):
        earlier = batches[:b]
        n, = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()
        if earlier:
            k, = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}') WHERE url NOT IN "
                f"(SELECT url FROM read_parquet({earlier!r}))").fetchone()
        else:
            k = n
        rows.append(n)
        new.append(k)
    return {"batches": batches, "batch_rows": rows, "new_rows": new}


def sketch_rollup(events: str, cms_sample: int, seed: int) -> dict:
    """Per-type distinct users, per-type sorted values (for rank
    errors) and exact frequencies of a seeded sample of users."""
    con = _con()
    src = _scan(events)
    distinct = dict(con.execute(
        f"SELECT event_type, count(DISTINCT user_id) FROM {src} GROUP BY 1").fetchall())
    by_type = {}
    for t, vals in con.execute(
            f"SELECT event_type, list(value ORDER BY value) FROM {src} GROUP BY 1").fetchall():
        by_type[t] = np.asarray(vals, dtype=np.float64)
    n_rows, = con.execute(f"SELECT count(*) FROM {src}").fetchone()
    users = con.execute(f"SELECT DISTINCT user_id FROM {src} ORDER BY 1").fetchnumpy()["user_id"]
    sample = np.random.default_rng(seed).choice(users, size=cms_sample, replace=False)
    con.register("sample_users", pa.table({"user_id": sample}))
    freq = dict(con.execute(
        f"SELECT e.user_id, count(*) FROM {src} e JOIN sample_users s "
        f"USING (user_id) GROUP BY 1").fetchall())
    return {"rows": n_rows, "distinct": distinct, "sorted_values": by_type,
            "cms_freq": {str(u): freq[u] for u in sample.tolist()}}


def rank_error(sorted_values: np.ndarray, estimate: float, q: float) -> float:
    """Distance from ``q`` to the nearest normalized rank the estimate
    can hold among the exact values (ties give a rank interval)."""
    n = len(sorted_values)
    lo = np.searchsorted(sorted_values, estimate, side="left") / n
    hi = np.searchsorted(sorted_values, estimate, side="right") / n
    if lo <= q <= hi:
        return 0.0
    return float(min(abs(q - lo), abs(q - hi)))
