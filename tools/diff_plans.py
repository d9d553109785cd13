#!/usr/bin/env python3
"""Compare two `graft.Probe plan` output directories query by query, e.g.
the plans of one commit against those of its parent on the same sf dir.
Expression ids (`#<n>`) and exchange plan ids (`plan_id=<n>`) are masked,
since they differ from run to run, and so are the source line numbers in
RDD call sites (`at EncodePipeline.scala:<n>`), which move with any edit
of the file. Every other difference is printed as the differing lines of
the two plans. A query present in only one directory is a difference.
Exits 1 on any difference.
Usage: diff_plans.py <dirA> <dirB>"""
import difflib
import os
import re
import sys

IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=\.scala:)\d+")


def plans(d):
    return {f[:-len(".txt")] for f in os.listdir(d) if f.endswith(".txt")}


def masked(path):
    with open(path, encoding="utf-8") as f:
        return [IDS.sub(lambda m: "#" if m.group().startswith("#") else "N", line)
                for line in f.read().splitlines()]


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    a_q, b_q = plans(a_dir), plans(b_dir)
    diffs = 0
    for name in sorted(a_q | b_q):
        if name not in a_q or name not in b_q:
            print(f"DIFF {name}  // only in {a_dir if name in a_q else b_dir}")
            diffs += 1
            continue
        a = masked(os.path.join(a_dir, name + ".txt"))
        b = masked(os.path.join(b_dir, name + ".txt"))
        changed = [line for line in difflib.unified_diff(a, b, lineterm="", n=0)
                   if line[:1] in "-+" and not line.startswith(("---", "+++"))]
        print(("DIFF " if changed else "same ") + name)
        for line in changed:
            print("  " + line)
        diffs += bool(changed)
    print(f"\n{len(a_q | b_q)} plans, {diffs} differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
