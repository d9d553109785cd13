#!/usr/bin/env python3
"""Classes Spark compiles per perfbench operation kind.

Spark logs one `CodeGenerator: Code generated in N ms` line per class it
compiles, that is per miss of its compiled-class cache. A plan whose code
text is new (a new plan shape, or a per-call literal that Spark inlined
into the code) pays that compile on every call. This attributes each line
of a run log to the perfbench operation kind (`perfbench.op`: search_token,
seek_rows, append, compact, ...; `warmup` for the warm-up, `other` for
set-up and anything else untagged) that was running at the time, and prints
per kind in the event log: operations, compiles, compiles per operation,
compile ms and compile ms per operation.

Attribution uses the event log's job submit and completion times. A compile
inside a job's span belongs to that job. A compile between jobs belongs to
the next job submitted: Spark compiles a plan's classes while planning it,
just before it submits the plan's first job. Compiles after the last job go
to that job. Operations are counted as in op_jobs.py (consecutive jobs of
one kind are one operation).

Both inputs come from one diagnostic run that is not timed:
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \\
      -Dlog4j2.configurationFile=tools/codegen-log4j2.properties" \\
        python3 perfbench/run.py --workload read --seed 1 --seconds 8 --trace 0
The log4j2 file prints only the CodeGenerator logger, each line stamped in
epoch milliseconds; the run log is then .bench_build/read-seed1-trace0.log.
The event log is read as stage_skew.py reads it; with several application
logs under <eventLogDir>, the one whose jobs span the most compile lines is
used.

Usage: op_compiles.py <eventLogDir | eventlog_v2_ dir | eventLogFile> <runLog>"""
import bisect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from op_jobs import jobs_of, operations  # noqa: E402
from stage_skew import apps  # noqa: E402

COMPILE = re.compile(r"^(\d{13}) .*CodeGenerator: Code generated in ([0-9.]+) ms")


def compiles_of(run_log):
    """[(epoch ms when the compile ended, compile ms)] in log order."""
    out = []
    with open(run_log, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = COMPILE.match(line)
            if m:
                out.append((int(m.group(1)), float(m.group(2))))
    return out


def kind_at(jobs, starts, t):
    """The kind of the job running at t, else of the next job submitted."""
    i = bisect.bisect_right(starts, t)  # jobs[:i] started at or before t
    running = [j for j in jobs[:i] if j["end"] is None or j["end"] >= t]
    if running:
        return running[-1]["kind"]
    if i < len(jobs):
        return jobs[i]["kind"]
    return jobs[-1]["kind"]


def attribute(jobs, compiles):
    """{kind: [compiles, compile ms]}"""
    jobs = sorted(jobs, key=lambda j: j["start"])
    starts = [j["start"] for j in jobs]
    per = {}
    for t, ms in compiles:
        acc = per.setdefault(kind_at(jobs, starts, t), [0, 0.0])
        acc[0] += 1
        acc[1] += ms
    return per


def covered(jobs, compiles):
    if not jobs:
        return 0
    lo, hi = min(j["start"] for j in jobs), max(j["end"] or j["start"] for j in jobs)
    return sum(1 for t, _ in compiles if lo <= t <= hi)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    compiles = compiles_of(argv[2])
    if not compiles:
        print(f"op_compiles: no timed 'Code generated' line in {argv[2]}; was the run "
              "started with tools/codegen-log4j2.properties?", file=sys.stderr)
        return 2
    logs = [(label, jobs_of(files)) for label, files in apps(argv[1]) if files]
    logs = [(label, jobs) for label, jobs in logs if jobs]
    if not logs:
        print(f"op_compiles: no event log with jobs under {argv[1]}", file=sys.stderr)
        return 2
    label, jobs = max(logs, key=lambda lj: covered(lj[1], compiles))
    per = attribute(jobs, compiles)
    print(f"== {label}")
    print(f"{'kind':<16} {'ops':>5} {'compiles':>9} {'per_op':>7} {'compile_ms':>11} {'ms_per_op':>10}")
    for kind in sorted({j["kind"] for j in jobs}, key=lambda k: -per.get(k, [0])[0]):
        n, ms = per.get(kind, (0, 0.0))
        ops = len(operations(jobs, kind))
        print(f"{kind:<16} {ops:>5} {n:>9} {n / ops:>7.2f} {ms:>11.1f} {ms / ops:>10.1f}")
    total_n = sum(v[0] for v in per.values())
    total_ms = sum(v[1] for v in per.values())
    print(f"total: {total_n} compiles, {total_ms:.1f} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
