"""Output check: every query result of the check pass against its oracle.

The comparison rules are tools/check.py's (the repository's local replica
of the DuckDB correctness gate), imported from it:

  - a query with oracle SQL (SparkEntry.oracleSql) must match DuckDB's
    answer on the same tables: same column types, same column names,
    same row count, and equal cells after sorting columns by name and
    rows by their string form (floats within 1e-9 relative);
  - any other query must have rows, and where it has an audit floor
    (SparkEntry.auditFloors) its worst audit value must respect it.

An events table whose ts is BIGINT nanoseconds is exposed as the same
TIMESTAMP_NS view tools/check.py builds for GenScale data, so every
oracle binds alike.
"""
import os
import sys

import duckdb

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "tools"))
from check import TABLES, cmp_cell, rows_of  # noqa: E402  (tools/check.py)


def connect(data_dir, threads):
    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    types = dict(zip(con.table("events").columns,
                     [str(t) for t in con.table("events").types]))
    if types.get("ts") == "BIGINT":
        con.execute("DROP VIEW events")
        con.execute("CREATE VIEW events AS SELECT * REPLACE "
                    "(CAST(make_timestamp(ts // 1000) AS TIMESTAMP_NS) AS ts) "
                    f"FROM '{data_dir}/events.parquet'")
    return con


def check_one(con, result_dir, sql, floor):
    """None when the result is correct, else a one-line reason."""
    if not os.path.isdir(result_dir):
        return "no result written"
    res_rel = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'")
    res = res_rel.df()
    if sql is None:
        if len(res) == 0:
            return "rows-only query returned no rows"
        if floor is not None:
            col, bound, is_min = floor
            if col not in res.columns:
                return f"audit column {col} missing"
            worst = res[col].min() if is_min else res[col].max()
            if (worst < bound) if is_min else (worst > bound):
                return f"audit {col}={worst} breaks {'floor' if is_min else 'ceiling'} {bound}"
        return None
    exp_rel = con.sql(sql)
    exp = exp_rel.df()
    rtypes = dict(zip(res_rel.columns, [str(t) for t in res_rel.types]))
    etypes = dict(zip(exp_rel.columns, [str(t) for t in exp_rel.types]))
    drift = {c: (rtypes.get(c), etypes.get(c)) for c in set(rtypes) | set(etypes)
             if rtypes.get(c) != etypes.get(c)}
    if drift:
        return f"column type drift spark!=oracle: {drift}"
    rcols, rrows = rows_of(res)
    ecols, erows = rows_of(exp)
    if rcols != ecols:
        return f"columns {rcols} != oracle {ecols}"
    if len(rrows) != len(erows):
        return f"{len(rrows)} rows != oracle {len(erows)}"
    for i, (rr, er) in enumerate(zip(rrows, erows)):
        for j, (a, b) in enumerate(zip(rr, er)):
            if not cmp_cell(a, b)[1]:
                return f"row {i} col {rcols[j]}: {a!r} != {b!r}"
    return None


def check(data_dir, check_dir, names, oracle, floors, threads=4):
    """{query: reason} for every query of `names` whose result is wrong."""
    con = connect(data_dir, threads)
    bad = {}
    for name in names:
        try:
            reason = check_one(con, os.path.join(check_dir, name),
                               oracle.get(name), floors.get(name))
        except Exception as e:  # an oracle that cannot run is a failure too
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[name] = reason
    con.close()
    return bad
