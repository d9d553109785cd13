#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped by
graft.Verify, run its oracle SQL in DuckDB over the same sf tables and
compare rows / schema (column-name set) / values (columns sorted by name,
row order preserved). Usage: check_oracles.py <sfDir> <verifyOutDir> [q1,q2,...]"""
import json
import math
import sys

import pandas as pd


def compare_frames(a, b):
    """Differences between two result frames, as the gate sees them: the
    column-name set, the row count, then values column by column (columns
    sorted by name, row order preserved, NaN equal to NaN). Returns a list
    of messages, empty when the frames match."""
    a = a[sorted(a.columns)]
    b = b[sorted(b.columns)]
    status = []
    if list(a.columns) != list(b.columns):
        status.append(f"schema {list(a.columns)} vs {list(b.columns)}")
    if len(a) != len(b):
        status.append(f"rows {len(a)} vs {len(b)}")
    if status:
        return status
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            same = (x == y) or (
                isinstance(x, float) and isinstance(y, float)
                and (x == y or (math.isnan(x) and math.isnan(y))))
            if not same:
                status.append(f"col {c} row {i}: {x!r} vs {y!r}")
                break
    return status


def main(argv):
    import duckdb
    sf_dir, out_dir = argv[1], argv[2]
    only = argv[3].split(",") if len(argv) > 3 else None
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            spark = pd.read_parquet(f"{out_dir}/{name}")
            status = compare_frames(spark, con.execute(sql).df())
            print(("FAIL " if status else "pass ") + name +
                  ("  // " + "; ".join(status[:3]) if status else f"  ({len(spark)} rows)"))
            fails += bool(status)
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
            fails += 1
    print(f"\n{fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
