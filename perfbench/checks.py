"""Output checks, run after the timed window.

Each check returns (name, ok, detail). olap_mix and corpus_clean compare
every query's result with DuckDB running the engine's own oracle SQL
(SparkEntry.oracleSql) over the same generated tables, order-insensitively.
tensor_events compares every lookup with the row that was written, and the
flood-fill instance partition with a union-find computed here.
"""
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import parity  # noqa: E402  (the engine's own DuckDB parity normalization)


def _cell(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, float) and np.isnan(v):
        return None
    return v


def _normalize(df):
    """tools/parity.py's normalization, with NaN cells as None and nested
    arrays as nested tuples, so that a row's repr is its fingerprint."""
    df = parity.normalize(df)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
    return df


def _fingerprint(df):
    """Order-insensitive digest of a result: the sorted per-row digests."""
    rows = sorted(hashlib.sha256(repr(tuple(r)).encode()).hexdigest()
                  for r in df.itertuples(index=False))
    return hashlib.sha256("".join(rows).encode()).hexdigest()


def oracle(out_dir, in_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{in_dir}/{f}')")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    res = []
    for q in sorted(sqls):
        try:
            want = _normalize(con.execute(sqls[q]).df())
            got = _normalize(pd.read_parquet(os.path.join(out_dir, q)))
            if list(want.columns) != list(got.columns):
                res.append((q, False, f"columns {list(got.columns)} != {list(want.columns)}"))
                continue
            fw, fg = _fingerprint(want), _fingerprint(got)
            res.append((q, fw == fg, f"{len(got)} rows" + ("" if fw == fg else
                                                           f", {len(want)} expected, digests differ")))
        except Exception as e:  # a check that cannot run is a failed check
            res.append((q, False, f"{type(e).__name__}: {e}"[:500]))
    return res


def run(workload, out_dir, in_dir, truth):
    if workload in ("olap_mix", "corpus_clean"):
        res = oracle(out_dir, in_dir)
        expected = 11 if workload == "olap_mix" else 4
        if len(res) != expected:
            res.append(("all_queries_checked", False, f"{len(res)} of {expected} results"))
        return res
    import tensor_checks
    return tensor_checks.run(out_dir, truth)
