#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query with the oracle gate's
frame comparison (check_oracles.compare_frames), e.g. a dump of one commit
against a dump of its parent on the same sf dir. Every query in either
dump is compared, including queries without an oracle; a query present in
only one dump is a difference. Exits non-zero on any difference.
Usage: diff_dumps.py <dumpA> <dumpB>"""
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracles import compare_frames  # noqa: E402


def queries(dump):
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    a_q, b_q = queries(a_dir), queries(b_dir)
    diffs = 0
    for name in sorted(a_q | b_q):
        if name not in a_q or name not in b_q:
            print(f"DIFF {name}  // only in {a_dir if name in a_q else b_dir}")
            diffs += 1
            continue
        try:
            status = compare_frames(pd.read_parquet(os.path.join(a_dir, name)),
                                    pd.read_parquet(os.path.join(b_dir, name)))
        except Exception as e:
            status = [f"{type(e).__name__}: {str(e)[:300]}"]
        print(("DIFF " if status else "same ") + name +
              ("  // " + "; ".join(status[:3]) if status else ""))
        diffs += bool(status)
    print(f"\n{len(a_q | b_q)} queries, {diffs} differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
