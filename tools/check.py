#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
oracle SQL in DuckDB against the parquet tables in <sfDir>, and compares
against the Spark result parquet at <verifyOutDir>/<name>/.  Columns are
sorted by name before comparison (same as the driver); values compared
exactly after a canonical repr.  Exit code 1 on any mismatch.

DuckDB runs under a fixed memory limit and spills to a temporary directory
inside <verifyOutDir> (removed on exit). Operators that can spill do so
there; an oracle whose working set cannot spill fails alone with an
out-of-memory error instead of taking most of the host's memory.

Driver-side-only dependency (duckdb) — NOT used by the library itself.
"""
import duckdb
import glob
import json
import math
import sys
import tempfile

# Well below DuckDB's default of 80 % of RAM.
MEMORY_LIMIT = "4GB"


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    with tempfile.TemporaryDirectory(prefix="duckdb_spill_",
                                     dir=outdir) as spill:
        con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                     "temp_directory": spill})
        failed, total = run(con, sfdir, outdir)
        con.close()
    print(f"\n{total - len(failed)}/{total} queries match")
    sys.exit(1 if failed else 0)


def run(con, sfdir, outdir):
    for p in sorted(glob.glob(f"{sfdir}/*.parquet")):
        name = p.split("/")[-1].replace(".parquet", "")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failed = []
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failed.append(name)
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')"
            ).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            failed.append(name)
            continue
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {name}: columns differ: oracle={wcols} spark={gcols}")
            failed.append(name)
            continue
        wrows = [tuple(canon(r[c]) for c in wcols)
                 for r in want.to_pylist()]
        grows = [tuple(canon(r[c]) for c in gcols)
                 for r in got.to_pylist()]
        if wrows != grows:
            n = min(len(wrows), len(grows))
            diff = next(
                (i for i in range(n) if wrows[i] != grows[i]), n)
            print(f"FAIL {name}: rows differ "
                  f"(oracle {len(wrows)} vs spark {len(grows)}); "
                  f"first diff at row {diff}:")
            if diff < len(wrows):
                print(f"  oracle: {wrows[diff]}")
            if diff < len(grows):
                print(f"  spark : {grows[diff]}")
            failed.append(name)
            continue
        print(f"OK   {name} ({len(grows)} rows)")
    return failed, len(oracle)


if __name__ == "__main__":
    main()
