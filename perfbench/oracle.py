"""DuckDB cross-check of the analytics workload's results.

Each query's result, dumped as parquet by the priming pass, must equal its
oracle SQL run by DuckDB over the same generated tables: same columns
(compared sorted by name), same row count, same values in row order. This is
the compare the engine's own correctness gate uses.
"""
import glob
import math
import os
from decimal import Decimal

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _same(x, y):
    if isinstance(x, Decimal) or isinstance(y, Decimal):
        return str(x) == str(y)
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    return x == y or (x is None and y is None) or str(x) == str(y)


def compare(got, want):
    """None when the two frames agree, else a one-line reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(x, y):
                return f"col={c} row={i}: got={x!r} want={y!r}"
    return None


def check(data_dir, results_dir, oracle_sql):
    """Failure lines for every query whose result differs from DuckDB's."""
    con = duckdb.connect()
    # the benchmark JVM has exited: DuckDB gets every core the run may use
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    con.execute(f"SET threads TO {cpus}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result dumped")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a query the oracle cannot run is a failure, not a skip
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        why = compare(got, want)
        if why:
            bad.append(f"{name}: {why}")
    con.close()
    return bad
