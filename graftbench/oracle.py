"""DuckDB twin check for the crunch_reference workload.

Each query's result (written by the JVM as parquet) must equal its
``SparkEntry.oracleSql`` twin run in DuckDB over the same generated
tables: same columns, same dtypes, same rows after sorting.
"""
import json
import os

import duckdb


def compare(star_dir, out_dir):
    """Returns {query: None if equal, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(star_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{star_dir}/{f}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    return {name: _diff(con, os.path.join(out_dir, name), sql)
            for name, sql in sorted(oracles.items())}


def _diff(con, result_dir, sql):
    try:
        mine = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
        want = con.sql(sql).df()
    except Exception as e:  # a missing result or a failing oracle is a mismatch
        return f"error: {str(e).splitlines()[0][:200]}"
    mine = mine.reindex(sorted(mine.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(mine.columns) != list(want.columns):
        return f"columns {list(mine.columns)} != {list(want.columns)}"
    if len(mine) != len(want):
        return f"{len(mine)} rows != {len(want)}"
    cols = list(mine.columns)
    mine = mine.sort_values(by=cols, na_position="first").reset_index(drop=True)
    want = want.sort_values(by=cols, na_position="first").reset_index(drop=True)
    for c in cols:
        a, b = mine[c], want[c]
        if a.dtype != b.dtype:
            return f"dtype[{c}] {a.dtype} != {b.dtype}"
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"value[{c}]@{i}: {a[i]!r} != {b[i]!r}"
    return None
