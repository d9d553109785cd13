#!/usr/bin/env python3
"""Per-stage task skew from Spark event logs.

For each stage of each event log under <eventLogDir> (or of one log file),
prints the task count, the number of tasks that read 0 records, the max and
median task run time, and the largest task's share of the records the stage
read. "Records read" is a task's input records plus its shuffle records, so
a stage fed by an exchange shows the tasks the exchange left empty.

Logs come from Spark's own settings, e.g. on a diagnostic run:
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev"
Both layouts are read: one file per application, and Spark 4's rolling
`eventlog_v2_<app>/events_<n>_<app>` directories (parts read in order).
Plain logs are read directly; `.zstd` logs (Spark 4's default codec) are
piped through `zstd -dc`, which must be on PATH.

Usage: stage_skew.py <eventLogDir | eventlog_v2_ dir | eventLogFile>"""
import json
import os
import shutil
import statistics
import subprocess
import sys

COMPRESSED = (".lz4", ".lzf", ".snappy")


def rolling_parts(d):
    """The events_<n>_<app> files of one rolling log, in n order."""
    parts = [f for f in os.listdir(d) if f.startswith("events_")]
    return [os.path.join(d, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def apps(path):
    """[(label, [file, ...])]: one entry per application log under path."""
    if os.path.isfile(path):
        return [(path, [path])]
    if os.path.basename(os.path.normpath(path)).startswith("eventlog_v2_"):
        return [(path, rolling_parts(path))]
    found = []
    for f in sorted(os.listdir(path)):
        full = os.path.join(path, f)
        if f.startswith("eventlog_v2_") and os.path.isdir(full):
            found.append((full, rolling_parts(full)))
        elif os.path.isfile(full) and not f.startswith((".", "appstatus_")):
            found.append((full, [full]))
    return found


def lines(path):
    name = path[:-len(".inprogress")] if path.endswith(".inprogress") else path
    if name.endswith(".zstd"):
        if shutil.which("zstd") is None:
            sys.exit(f"stage_skew: {path} is zstd-compressed and no `zstd` command is on "
                     "PATH; install zstd or rerun with -Dspark.eventLog.compress=false")
        proc = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE, text=True)
        yield from proc.stdout
        if proc.wait() != 0:
            sys.exit(f"stage_skew: zstd -dc {path} failed (exit {proc.returncode})")
    elif name.endswith(COMPRESSED):
        sys.exit(f"stage_skew: {path} uses a codec this tool does not read; "
                 "rerun with -Dspark.eventLog.compress.codec=zstd or compress=false")
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def stages_of(files):
    """{(stage id, attempt): {"name", "tasks": [(records read, run ms)]}}"""
    stages = {}
    for line in (ln for f in files for ln in lines(f)):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted" or kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages.setdefault(key, {"name": "", "tasks": []})["name"] = info.get("Stage Name", "")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            records = (m.get("Input Metrics", {}).get("Records Read", 0) +
                       m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0))
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            stages.setdefault(key, {"name": "", "tasks": []})["tasks"].append(
                (records, m.get("Executor Run Time", 0)))
    return stages


def report(label, files):
    print(f"== {label}")
    print(f"{'stage':>9} {'tasks':>6} {'empty':>6} {'max_ms':>8} {'median_ms':>10} "
          f"{'max_share':>9}  name")
    for (sid, att), st in sorted(stages_of(files).items()):
        tasks = st["tasks"]
        if not tasks:
            continue
        records = [r for r, _ in tasks]
        run_ms = [t for _, t in tasks]
        total = sum(records)
        share = max(records) / total if total else 0.0
        print(f"{sid:>6}.{att:<2} {len(tasks):>6} {records.count(0):>6} {max(run_ms):>8} "
              f"{statistics.median(run_ms):>10.0f} {share:>9.3f}  {st['name']}")


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    found = [(label, files) for label, files in apps(argv[1]) if files]
    if not found:
        print(f"stage_skew: no event log under {argv[1]}", file=sys.stderr)
        return 2
    for label, files in found:
        report(label, files)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
