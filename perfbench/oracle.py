"""DuckDB replay of graft's oracle SQL against a run's own inputs.

The comparison is the repository's own (`tools/compare.py`): same row
count, same column names, and equal cells after `norm` (columns and rows
sorted, floats compared at 9 decimals). This module only wraps it to
return a reason per query instead of printing.
"""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import TABLES, norm  # noqa: E402


def compare(con, result_dir, sql):
    """None when the parquet result under `result_dir` equals the oracle
    query's result, else a short reason."""
    try:
        got = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'").df()
        want = con.execute(sql).df()
    except Exception as e:  # a failing replay is a failed check
        return f"{type(e).__name__}: {str(e)[:200]}"
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    try:
        a, b = norm(got), norm(want)
    except Exception as e:
        return f"unsortable result: {type(e).__name__}: {str(e)[:200]}"
    if not a.equals(b):
        row = (a != b).any(axis=1).idxmax()
        return f"values differ, e.g. {a.loc[row].to_dict()} vs oracle {b.loc[row].to_dict()}"
    return None


def connect(tmp_dir):
    """A small DuckDB connection that spills, if at all, under `tmp_dir`."""
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": tmp_dir})
    con.execute("SET TimeZone = 'UTC'")
    return con


def check_dir(oracle_dir, data_dir, tmp_dir):
    """{query: reason or None} for every query in `oracle_dir`/oracle_sql.json."""
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = connect(tmp_dir)
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        return {q: compare(con, os.path.join(oracle_dir, q), sql)
                for q, sql in sorted(sqls.items())}
    finally:
        con.close()
