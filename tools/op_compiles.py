#!/usr/bin/env python3
"""Classes Spark compiles per perfbench operation kind.

Spark logs one `CodeGenerator: Code generated in N ms` line per class it
compiles, that is per miss of its compiled-class cache. A plan whose code
text is new (a new plan shape, or a per-call literal that Spark inlined
into the code) pays that compile on every call. This attributes each line
of a run log to the perfbench operation kind (`perfbench.op`: search_token,
seek_rows, append, compact, ...; `warmup` for the warm-up, `other` for
set-up and anything else untagged) that was running at the time, and prints
per kind in the event log: operations, compiles (split into compiles on a
driver thread and on an executor task thread), compiles per operation,
compile ms and compile ms per operation.

Spark keys its compiled-class cache by the thread's context class loader as
well as the source, so in local mode a class compiled on the driver is
compiled again the first time an executor task needs it. With the DEBUG
configuration (tools/codegen-debug-log4j2.properties) the log also holds
each compiled source; the tool then keys every compile by (source, side),
side = driver or executor, and prints per kind the distinct keys it compiled
and the recompiles: compiles of a key compiled earlier in the run, i.e.
classes the cache had evicted.

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
epoch milliseconds and with its thread; the run log is then
.bench_build/read-seed1-trace0.log. Logs written before the thread was
stamped count every compile as a driver compile.
The event log is read as stage_skew.py reads it; with several application
logs under <eventLogDir>, the one whose jobs span the most compile lines is
used.

Usage: op_compiles.py <eventLogDir | eventlog_v2_ dir | eventLogFile> <runLog>"""
import bisect
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from op_jobs import jobs_of, operations  # noqa: E402
from stage_skew import apps  # noqa: E402

EVENT = re.compile(r"^(\d{13}) (?:\[(.*?)\] )?(\w+) (\S+?): ?(.*)$")
COMPILE = re.compile(r"Code generated in ([0-9.]+) ms")
EXECUTOR_THREAD = "Executor task launch worker"


def events(run_log):
    """(epoch ms, thread, level, logger, message) per log event; the lines
    that do not start with a time stamp continue the message before them."""
    ev = None
    with open(run_log, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = EVENT.match(line.rstrip("\n"))
            if m:
                if ev:
                    yield ev
                ev = [int(m.group(1)), m.group(2) or "", m.group(3), m.group(4), [m.group(5)]]
            elif ev:
                ev[4].append(line.rstrip("\n"))
    if ev:
        yield ev


def side_of(thread):
    return "executor" if thread.startswith(EXECUTOR_THREAD) else "driver"


def compiles_of(run_log):
    """[(epoch ms when the compile ended, compile ms, side, source key)] in
    log order. The key is a digest of the source the thread logged at DEBUG
    just before the compile, or None without DEBUG lines."""
    out, source = [], {}
    for t, thread, level, _, msg in events(run_log):
        m = COMPILE.search(msg[0])
        if m:
            out.append((t, float(m.group(1)), side_of(thread), source.pop(thread, None)))
        elif level == "DEBUG":
            text = "\n".join(msg).strip()
            source[thread] = hashlib.sha1(text.encode("utf-8")).hexdigest()
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
    """{kind: {n, ms, driver, executor, keys: set, recompiles}}; a recompile
    is a compile of a (source, side) key compiled earlier in the run."""
    jobs = sorted(jobs, key=lambda j: j["start"])
    starts = [j["start"] for j in jobs]
    per, seen = {}, set()
    for t, ms, side, src in compiles:
        acc = per.setdefault(kind_at(jobs, starts, t), {
            "n": 0, "ms": 0.0, "driver": 0, "executor": 0, "keys": set(), "recompiles": 0})
        acc["n"] += 1
        acc["ms"] += ms
        acc[side] += 1
        if src is not None:
            key = (src, side)
            acc["keys"].add(key)
            acc["recompiles"] += key in seen
            seen.add(key)
    return per


def covered(jobs, compiles):
    if not jobs:
        return 0
    lo, hi = min(j["start"] for j in jobs), max(j["end"] or j["start"] for j in jobs)
    return sum(1 for c in compiles if lo <= c[0] <= hi)


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
    keyed = all(c[3] is not None for c in compiles)
    print(f"== {label}")
    head = (f"{'kind':<16} {'ops':>5} {'compiles':>9} {'driver':>7} {'executor':>9} "
            f"{'per_op':>7} {'compile_ms':>11} {'ms_per_op':>10}")
    print(head + (f" {'keys':>6} {'recompiles':>11}" if keyed else ""))
    empty = {"n": 0, "ms": 0.0, "driver": 0, "executor": 0, "keys": set(), "recompiles": 0}
    for kind in sorted({j["kind"] for j in jobs}, key=lambda k: -per.get(k, empty)["n"]):
        a = per.get(kind, empty)
        ops = len(operations(jobs, kind))
        row = (f"{kind:<16} {ops:>5} {a['n']:>9} {a['driver']:>7} {a['executor']:>9} "
               f"{a['n'] / ops:>7.2f} {a['ms']:>11.1f} {a['ms'] / ops:>10.1f}")
        print(row + (f" {len(a['keys']):>6} {a['recompiles']:>11}" if keyed else ""))
    total_n = sum(a["n"] for a in per.values())
    total_ms = sum(a["ms"] for a in per.values())
    line = f"total: {total_n} compiles, {total_ms:.1f} ms"
    if keyed:
        keys = {(c[3], c[2]) for c in compiles}
        both = len({k[0] for k in keys if (k[0], "driver") in keys and (k[0], "executor") in keys})
        line += (f"; {len(keys)} distinct (source, side) keys over "
                 f"{len({k[0] for k in keys})} sources ({both} compiled on both sides), "
                 f"{sum(a['recompiles'] for a in per.values())} recompiles")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
