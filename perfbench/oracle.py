"""DuckDB oracle for query_mix: every query's Spark result must equal its
oracle SQL (`SparkEntry.oracleSql`) run by DuckDB over the same fixture.

Columns are compared sorted by name and rows in order, each value in a
canonical form (floats rounded to 9 digits), as the engine's own parity
check does.
"""
import glob
import json
import math
import os
import time

import duckdb


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def rows(table):
    cols = sorted(table.column_names)
    return cols, [tuple(canon(r[c]) for c in cols) for r in table.to_pylist()]


def compare(want, got):
    """None when the two arrow tables agree, else the first difference."""
    wcols, wrows = rows(want)
    gcols, grows = rows(got)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} spark={gcols}"
    if wrows != grows:
        n = min(len(wrows), len(grows))
        i = next((i for i in range(n) if wrows[i] != grows[i]), n)
        return (f"rows differ (oracle {len(wrows)} vs spark {len(grows)}) "
                f"first at row {i}: oracle="
                f"{wrows[i] if i < len(wrows) else None} spark="
                f"{grows[i] if i < len(grows) else None}")
    return None


def tamper(table):
    """Deliberate damage, for the benchmark's own failure-counting test."""
    if table.num_rows:
        return table.slice(0, table.num_rows - 1)
    import pyarrow as pa
    return pa.table({c: [None] for c in table.column_names} or {"x": [1]})


def check(fixture_dir, outputs_dir, work):
    """Returns {"failed": {query: reason}, "checked": n, "seconds": s}."""
    t0 = time.time()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 4,
                                 "temp_directory": tmp})
    for p in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{p}/*.parquet')")
    with open(os.path.join(outputs_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    failed = {}
    for name, sql in sorted(sqls.items()):
        if not sql:
            failed[name] = "no oracle SQL"
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
            got = con.execute(
                "SELECT * FROM read_parquet("
                f"'{os.path.join(outputs_dir, name)}/*.parquet')"
            ).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failed[name] = f"{type(e).__name__}: {e}"[:500]
            continue
        diff = compare(want, got)
        if diff:
            failed[name] = diff[:500]
    con.close()
    return {"failed": failed, "checked": len(sqls),
            "seconds": time.time() - t0}
