#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ingest|read|maintain --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the classpath under
.bench_build/; later runs reuse it while the sources are unchanged. The run
sizes the JVM from nproc and MemTotal, keeps its scratch data in a fresh
directory under .bench_build/ that it deletes at exit, and prints an
environment record followed, as the last line, by the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones (spans go to .bench_build/traces/).
Exits non-zero, without a result line, when the build or the run fails; a
run whose outputs do not match the generator's truth prints its result with
"correct": false and exits 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
MAIN_CLASS = "graftbench.Main"
BUILD_TIMEOUT_S = 800
RUN_LIMIT_S = 170
# Scratch data of the largest workload (ingest input + one output table +
# Spark shuffle files) stays well under this.
MIN_FREE_BYTES = 3 << 30

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for proj in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in proj.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for src in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in os.environ and repos.is_file():
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd + ["export Runtime/fullClasspath"]


def classpath(stamp):
    """Build once per source state; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        proc = subprocess.Popen(sbt_command(), cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        finally:
            stop(proc)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or not cp or cp.startswith("[") or not all(Path(p).exists() for p in cp.split(os.pathsep)):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30


def heap_mib(mem_total):
    """A quarter of physical memory, between 2 and 8 GiB: the machine may be
    shared, and the largest workload peaks well under 2 GiB of live heap."""
    return max(2048, min(8192, (mem_total // 4) >> 20))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def git_sha():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def declared_metrics():
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "read", "maintain"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_hash()
    cp = classpath(stamp)

    cores = len(os.sched_getaffinity(0))
    mem_total = mem_total_bytes()
    heap = heap_mib(mem_total)
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        fail(f"need {MIN_FREE_BYTES >> 30} GiB free next to the checkout, have {free >> 20} MiB")

    scratch = BUILD / f"run-{os.getpid()}-{time.time_ns()}"
    (scratch / "tmp").mkdir(parents=True)
    out_file = scratch / "result.json"
    traces = BUILD / "traces"
    traces.mkdir(exist_ok=True)
    spans = traces / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={scratch / 'tmp'}", "-cp", cp, MAIN_CLASS,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", str(scratch), "--cores", str(cores), "--out", str(out_file)] +
           (["--spans", str(spans)] if args.trace else []))
    log = BUILD / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    proc = None
    ticks0 = cpu_ticks()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_LIMIT_S} s; see {log}")
        if code != 0 or not out_file.is_file():
            sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
            fail(f"run failed (exit {code}); see {log}")
        res = json.loads(out_file.read_text())
    finally:
        if proc is not None:
            stop(proc)
        shutil.rmtree(scratch, ignore_errors=True)

    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    declared = declared_metrics()
    if declared is not None:
        names = declared[1] if args.trace else declared[0]
        if args.trace:
            # a per-layer metric of a layer this workload does not exercise reads 0
            metrics = {n: metrics.get(n, {"value": 0, "unit": u}) for n, u in names.items()}
        missing = [n for n in names if n not in metrics]
        if missing:
            fail(f"run did not produce declared metrics {missing}")
        metrics = {n: metrics[n] for n in names}

    env = dict(res["env"])
    env.update(git_sha=git_sha(), source_sha256=stamp, heap_mib=str(heap), cpu_steal_share=f"{steal:.4f}",
               mem_total_gib=f"{mem_total / (1 << 30):.1f}", workload=args.workload,
               seed=str(args.seed), trace=str(args.trace))
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({"env": env, "op_failure_ratio": failed / attempted}, sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
