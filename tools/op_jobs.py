#!/usr/bin/env python3
"""The Spark jobs of one perfbench operation kind, from Spark event logs.

perfbench tags every job an operation runs with the job property
`perfbench.op` (the kind: append, snapshot_read, compact, ...; `warmup`
during the warm-up). For each job of kind <op>, in job order, this prints
its start offset from the first job of its operation, its duration, the
number of tasks it ran, its SQL execution id (`-` for a plain RDD job) and
its call site: the action of its SQL execution, or for a plain RDD job the
name of its last stage (jobs that adaptive execution submits name only
the thread that submitted them). Jobs of one operation are the
consecutive jobs of that kind; a job of another kind ends the operation, so
back-to-back operations of one kind (maintain's appends) print as one. Each
operation ends with its job count and span (first start to last end), and
the log ends with the kind's totals.

Logs come from Spark's own settings, on a diagnostic run that is not timed:
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev" \\
        python3 perfbench/run.py --workload maintain --seed 1 --seconds 8 --trace 0
The log layouts and codecs are those of stage_skew.py: one file per
application, rolling `eventlog_v2_*` directories, plain or `.zstd`.

Usage: op_jobs.py <eventLogDir | eventlog_v2_ dir | eventLogFile> <op>"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stage_skew import apps, lines  # noqa: E402

KIND_PROP = "perfbench.op"


def jobs_of(files):
    """[job dict] in job-id order: id, kind, start, end, sql, site, tasks."""
    jobs, stage_job, sql_site = {}, {}, {}
    for line in (ln for f in files for ln in lines(f)):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            last = max(stages, key=lambda s: s["Stage ID"]) if stages else {}
            jid = ev["Job ID"]
            jobs[jid] = {"id": jid, "kind": props.get(KIND_PROP, "other"),
                         "start": ev.get("Submission Time", 0), "end": None,
                         "sql": props.get("spark.sql.execution.id", "-"),
                         "site": last.get("Stage Name", "?"), "tasks": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind is not None and kind.endswith("SparkListenerSQLExecutionStart"):
            sql_site[str(ev.get("executionId"))] = ev.get("description", "?")
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            jobs[stage_job[ev["Stage ID"]]]["tasks"] += 1
    for j in jobs.values():
        j["site"] = sql_site.get(j["sql"], j["site"])
    return [jobs[j] for j in sorted(jobs)]


def operations(jobs, op):
    """Runs of consecutive jobs of kind `op`."""
    runs, cur = [], []
    for j in jobs:
        if j["kind"] == op:
            cur.append(j)
        elif cur:
            runs.append(cur)
            cur = []
    if cur:
        runs.append(cur)
    return runs


def report(label, files, op):
    print(f"== {label}")
    jobs = jobs_of(files)
    runs = operations(jobs, op)
    if not runs:
        kinds = sorted({j["kind"] for j in jobs})
        print(f"no job of kind {op!r}; kinds in this log: {', '.join(kinds)}")
        return
    total_jobs = total_tasks = 0
    for n, run in enumerate(runs, 1):
        t0 = run[0]["start"]
        print(f"-- {op} #{n}")
        print(f"{'job':>6} {'start_ms':>9} {'dur_ms':>7} {'tasks':>6} {'sql':>5}  call site")
        for j in run:
            dur = "?" if j["end"] is None else j["end"] - j["start"]
            print(f"{j['id']:>6} {j['start'] - t0:>9} {dur:>7} {j['tasks']:>6} "
                  f"{j['sql']:>5}  {j['site']}")
        ends = [j["end"] for j in run if j["end"] is not None]
        span = max(ends) - t0 if ends else 0
        print(f"   {len(run)} jobs, {sum(j['tasks'] for j in run)} tasks, span {span} ms")
        total_jobs += len(run)
        total_tasks += sum(j["tasks"] for j in run)
    print(f"{op}: {total_jobs} jobs, {total_tasks} tasks in {len(runs)} operation(s), "
          f"{total_jobs / len(runs):.2f} jobs per operation")


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    found = [(label, files) for label, files in apps(argv[1]) if files]
    if not found:
        print(f"op_jobs: no event log under {argv[1]}", file=sys.stderr)
        return 2
    for label, files in found:
        report(label, files, argv[2])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
