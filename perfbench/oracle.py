"""DuckDB oracle comparison for collected query rows.

The canonical form is the engine's cross-engine gate (tools/check_oracle.py):
columns sorted by name, rows sorted by their cells' string forms, NaN and
-0.0 normalised, then an exact cell-by-cell compare.
"""
import glob
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def compare_all(data_dir, dumps, sqls):
    """{query: (ok, detail)} for each dumped query against its oracle SQL,
    over DuckDB views of the workload's input tables."""
    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return {name: compare(con, path, sqls.get(name)) for name, path in dumps.items()}
    finally:
        con.close()


def compare(con, dump_dir, sql):
    """(ok, detail) for one query's dumped rows against its oracle SQL."""
    if sql is None:
        return False, "no oracle SQL registered"
    try:
        got = con.sql(f"SELECT * FROM '{dump_dir}/*.parquet'")
        gc, gr = canon(got.fetchall(), got.columns)
        exp = con.sql(sql)
        ec, er = canon(exp.fetchall(), exp.columns)
    except Exception as e:  # an unreadable dump or a failing oracle is a failed check
        return False, f"{type(e).__name__}: {e}"[:300]
    if gc != ec:
        return False, f"schema mismatch engine={gc} oracle={ec}"
    if len(gr) != len(er):
        return False, f"row count engine={len(gr)} oracle={len(er)}"
    bad = [(a, b) for a, b in zip(gr, er) if a != b]
    if bad:
        return False, f"{len(bad)}/{len(gr)} rows differ; first engine={bad[0][0]} oracle={bad[0][1]}"
    return True, f"{len(gr)} rows match"
