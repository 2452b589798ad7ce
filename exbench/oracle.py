"""DuckDB oracle check of the suite_mix outputs.

The benchmark process writes each query's collected rows as parquet
plus `oracle_sql.json` (the query's `SparkEntry.oracleSql`). Each oracle
query runs in DuckDB over the same generated tables; columns are
compared by name and rows after sorting, with floats compared exactly
(the engine rounds, as the oracle does).
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return False
        return (math.isnan(a) and math.isnan(b)) or a == b
    if hasattr(a, "__len__") and not isinstance(a, str):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def _compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns differ: {gc} vs {wc}"
    if len(got) != len(want):
        return f"row counts differ: {len(got)} vs {len(want)}"

    def kind(dt):
        return "i" if dt.kind in "iu" else dt.kind
    for c in gc:
        if len(got) and kind(got[c].dtype) != kind(want[c].dtype):
            return f"column {c} type differs: {got[c].dtype} vs {want[c].dtype}"

    def hashable(df):
        out = df[gc].copy()
        for c in gc:
            out[c] = out[c].map(
                lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        return out.sort_values(gc).reset_index(drop=True)
    g, w = hashable(got), hashable(want)
    for c in gc:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if not _eq(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def check(tables_dir, out_dir):
    """Return a list of failure messages (empty when every query matches)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name, sql in sorted(oracles.items()):
        got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        msg = _compare(got, con.execute(sql).df())
        if msg:
            failures.append(f"{name}: {msg}")
    con.close()
    return failures
