#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload catchup|trickle|cells --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft together with
the benchmark (perfbench/build.sbt, sbt offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. The benchmark runs
in one JVM sized to the box, writes only under .bench_build/, and its
result is checked here: the cells' materialized results are compared with
their frozen oracle SQL in DuckDB. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The line before it
holds the full record: workload-specific metrics (apply events/s, 1->4 core
scaling, lag), the checks, the input fingerprint and the session.

Seeds: 1 is the default, 1009 is held out for confirming a claimed gain.
The `cells` workload (operator cells on the bundled sf0.01 testdata) runs
the same way but is not in BENCHMARK.json: one run takes about three
minutes of cold start, warm-up and measurement on a 4-core box, which 22
runs per workload cannot afford beside the other two. `perfbench/selfcheck.py` exercises it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
DATA = os.path.join(HERE, "data", "sf0.01")
# catchup and trickle must finish in 180 s; `cells`, run by hand, may take longer
RUN_TIMEOUT_S = {"catchup": 170, "trickle": 170, "cells": 400}
BUILD_TIMEOUT_S = 700
# the JDK 17 module opens graft's build.sbt passes to every forked JVM
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", *opts, "compile"],
                         HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_bounded(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def box():
    """Heap and cores for this box: the heap as the repository's test command sizes
    SPARK_DRIVER_MEM (MemTotal/2, clamped to 2..8 GiB), local[N] capped at the
    CPUs this process may use and at 4, the size the workloads are set for."""
    kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    heap_gb = min(8, max(2, kb // 2097152))
    cores = min(4, len(os.sched_getaffinity(0)))
    return heap_gb, cores, kb // 1024


def fs_type(path):
    best, kind = "", "?"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def check_scratch(scratch, heap_gb):
    """The run writes its tables, logs and Spark's shuffle files under
    `scratch`. On tmpfs those bytes come out of the same RAM as the heap."""
    kind = fs_type(scratch)
    free_gb = shutil.disk_usage(scratch).free / 2**30
    need = 2.0 + (heap_gb if kind == "tmpfs" else 0)
    if free_gb < need:
        fail(f"scratch {scratch} ({kind}) has {free_gb:.1f} GiB free, needs {need:.1f}")
    return kind, free_gb


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f)


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def canon(rows, cols):
    """Rows as sorted strings, columns in name order, floats to 6 places
    (the rule of the repo's own oracle compare)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def check_cells(dumps):
    """Each cell's materialized result against its frozen oracle SQL, in
    DuckDB over the same parquet inputs."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{DATA}/{f}')")
    checks = []
    for d in dumps:
        name = d["name"]
        if not d.get("oracle_sql"):
            checks.append({"name": f"cells.{name}", "ok": False, "detail": "no oracle SQL"})
            continue
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{d['dir']}/*.parquet')")
            s_cols, s_rows = [c[0] for c in s.description], s.fetchall()
            o = con.sql(d["oracle_sql"])
            o_cols, o_rows = [c[0] for c in o.description], o.fetchall()
        except duckdb.Error as e:
            checks.append({"name": f"cells.{name}", "ok": False, "detail": str(e)[:200]})
            continue
        ok = sorted(s_cols) == sorted(o_cols) and canon(s_rows, s_cols) == canon(o_rows, o_cols)
        checks.append({"name": f"cells.{name}", "ok": ok,
                       "detail": f"{len(s_rows)} rows vs oracle {len(o_rows)}"})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(RUN_TIMEOUT_S))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs (self-check)")
    ap.add_argument("--corrupt", default="", help="break one correctness gate (self-check)")
    a = ap.parse_args()

    t0 = time.time()
    ensure_built()
    built = time.time()
    heap_gb, cores, mem_mb = box()
    scratch = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        kind, free_gb = check_scratch(scratch, heap_gb)
        out = os.path.join(scratch, "result.json")
        # defaults only: no GRAFT_* / SPARK_GRAFT_* knob reaches the
        # program, except the scratch root its harness cells write under
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
        env["GRAFT_TMPDIR"] = os.path.join(scratch, "tmp")
        cmd = ["java", *[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Xmx{heap_gb}g", "-XX:+UseParallelGC",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.sql.codegen.cache.maxEntries=4000",
               f"-Djava.io.tmpdir={scratch}/tmp",
               "-cp", f"{SPARK_JARS}/*:{CLASSES}", "graft.perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--scratch", scratch, "--cores", str(cores),
               "--out", out, "--data", DATA, "--toy", "1" if a.toy else "0",
               "--corrupt", a.corrupt or "none"]
        logdir = os.path.join(BUILD, "logs")
        os.makedirs(logdir, exist_ok=True)
        budget = RUN_TIMEOUT_S[a.workload] - (time.time() - built)
        steal0, total0 = cpu_times()
        with open(os.path.join(logdir, f"{a.workload}-{a.seed}-t{a.trace}.log"), "w") as log:
            rc = run_bounded(cmd, ROOT, env, log, max(30, budget))
        steal1, total1 = cpu_times()
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited {rc}; see .bench_build/logs/")
        with open(out) as fh:
            res = json.load(fh)
        checks = res["checks"]
        if a.workload == "cells":
            cell_checks = check_cells(res["info"]["cell_dumps"])
            checks += cell_checks
            res["attempted"] += len(cell_checks)
            res["failed"] += sum(not c["ok"] for c in cell_checks)
        correct = all(c["ok"] for c in checks) and res["failed"] == 0
        res["info"].update({
            "git_sha": git_sha(), "cores": cores, "heap_gb": heap_gb, "mem_total_mb": mem_mb,
            "scratch_fs": kind, "scratch_free_gb": round(free_gb, 1),
            "failed_fraction": res["failed"] / max(1, res["attempted"]),
            "seconds": a.seconds, "wall_s": time.time() - t0,
            # CPU time the hypervisor gave to other guests during the run
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0)})
        if a.trace:
            res["info"]["spans_file"] = os.path.relpath(
                save_spans(res.pop("spans"), a), ROOT)
        else:
            res.pop("spans")
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                          "checks": checks, "info": res["info"]}))
        metrics = res["layers"] if a.trace else res["metrics"]
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def save_spans(spans, a):
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{a.workload}-{a.seed}.json")
    with open(p, "w") as fh:
        json.dump(spans, fh)
    return p


if __name__ == "__main__":
    main()
