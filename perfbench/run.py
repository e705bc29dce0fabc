#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cube_build --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged. Each run's full record (result,
per-call samples, run context) is also written to a new file under
.bench_results/. Workloads and metrics: perfbench/README.md.
"""

import argparse
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import results  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(ROOT, ".bench_results")
WORKLOADS = ("cube_build", "versioned_mix")
XMX = "3g"
# Spark task slots: one CPU is left to the driver, JIT compiler and GC
# threads, so they do not queue behind tasks.
TASK_CORES = 3
# the JVM's limit, counted after any build: a run that builds may take longer
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input to the build: the engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(digest):
    """Compile with sbt unless the last build saw the same sources."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and harness with sbt (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.forcestart=false", "exportClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError("sbt build failed (exit %d)" % proc.returncode)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read().strip()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                             capture_output=True, text=True)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classpath, args, work, deadline):
    """Run the harness JVM; return its stdout. The JVM is always reaped."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xmx" + XMX, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
            "-cp", classpath, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError("harness JVM exceeded its time limit")
    if proc.returncode != 0:
        raise RuntimeError("harness JVM exited with %d" % proc.returncode)
    return out


def write_record(record, workload, seed, trace):
    """Each run gets a new file; an earlier run's file is never replaced."""
    os.makedirs(RESULTS, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    name = "%s-seed%s-trace%d-%s-%d.json" % (workload, seed, trace, stamp, os.getpid())
    path = os.path.join(RESULTS, name)
    with open(path, "x") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="tiny: a small fixture for the self-check")
    ap.add_argument("--corrupt", type=int, default=0, choices=(0, 1),
                    help="drop one fact row before the cube_build check")
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found under %s/src/main/scala" % ROOT)
        return 2
    try:
        digest = source_digest()
        classpath = ensure_build(digest)
        cores = max(1, min(TASK_CORES, cpu_count() - 1))
        work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
        os.makedirs(work, exist_ok=True)
        load_before, ticks_before = os.getloadavg(), cpu_ticks()
        try:
            out = run_jvm(classpath, [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--cores", str(cores), "--scale", a.scale,
                "--corrupt", str(a.corrupt)], work, time.time() + RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        load_after, ticks_after = os.getloadavg(), cpu_ticks()
    except Exception as e:  # no result line on any failure to run
        log("run failed: %s" % e)
        return 1

    res = results.parse_result(out)
    if res is None:
        log("the harness printed no result line")
        return 1
    detail = res.pop("detail", {})
    result = {k: res[k] for k in results.RESULT_KEYS}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale, "corrupt": a.corrupt,
        "result": result, "detail": detail,
        "context": {
            "git_commit": git_commit(), "source_digest": digest,
            "nproc": cpu_count(), "local": "local[%d]" % cores, "xmx": XMX,
            "load_avg_before": load_before, "load_avg_after": load_after,
            # share of CPU time the hypervisor gave to other guests during
            # the run: high steal marks a contended run, not a slow commit
            "cpu_steal_frac": (ticks_after[0] - ticks_before[0]) /
            max(ticks_after[1] - ticks_before[1], 1) if ticks_before and ticks_after else None,
            "wall_s": time.time() - started,
            "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        },
    }
    path = write_record(record, a.workload, a.seed, a.trace)
    log("record: %s" % os.path.relpath(path, ROOT))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
