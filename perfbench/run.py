#!/usr/bin/env python3
"""Benchmark runner for the graft engine: one workload, one JVM.

Run from the repository root:

    python3 perfbench/run.py --workload conflate_dedup --seed 1 --seconds 10 --trace 0

Workloads: conflate_dedup, catalog (see perfbench/README.md).

The first run in a checkout compiles the engine's sources together with the
benchmark's own (sbt, offline, into perfbench/target); later runs reuse that
build while the sources are unchanged. Each run gets a fresh scratch
directory under perfbench/.work, removed at exit, and leaves its report
(plus the span file when traced) under perfbench/out. The last line of
standard output is the result object; the line before it is the full report.
The exit code is nonzero when the output gate fails or the run cannot finish.

    python3 perfbench/run.py --pin conflate|catalog [--seeds 0-31]

rewrites the pinned output digests under perfbench/pins from the current code.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench.classpath")
# the catalog's tables: a copy of the oracle-graded SF0.01 test tables
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("conflate_dedup", "catalog")
RUN_LIMIT_S = 175  # a run must end within 180 s; keep room to clean up
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the recorded build matches the sources."""
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    log("building (sbt, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    finally:
        stop(proc)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = [l.strip() for l in out.splitlines() if l.strip().startswith(classes)]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(out[-8000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(f"{stamp}\n{cp[-1]}\n")
    return cp[-1]


def heap():
    """Half of MemTotal, clamped to [2, 8] GiB: the repository's test sizing."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return ""


def stop(proc):
    """Kill the process group of a child that is still running, and reap it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def run_jvm(classpath, main_args, work, stamp, limit_s):
    os.makedirs(work, exist_ok=True)
    mem = heap()
    cmd = ["java", f"-Xmx{mem}", f"-Xms{mem}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + main_args
    env = dict(os.environ)
    env.update(SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               GRAFT_AUX_DIR=os.path.join(work, "aux"),
               PERFBENCH_GIT_SHA=git_sha() or f"src-sha256:{stamp[:16]}")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit_s:.0f} s; stopping it")
        return None
    finally:
        stop(proc)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", choices=("conflate", "catalog"))
    ap.add_argument("--seeds", default="0-31")
    a = ap.parse_args()
    if not a.workload and not a.pin:
        ap.error("--workload or --pin is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"no engine sources at {os.path.relpath(ENGINE_SRC, os.getcwd())}: "
            "run from the root of a graft checkout")
        return 2

    stamp = source_stamp()
    classpath = build(stamp)
    started = time.time()  # a first run's build does not count against the run limit
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    pins = os.path.join(HERE, "pins")
    common = ["--work", work, "--pins", pins, "--data", DATA]
    try:
        if a.pin:
            code = run_jvm(classpath, ["--pin", a.pin, "--seeds", a.seeds] + common,
                           work, stamp, 3600)
            return 1 if code is None else code
        out = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        code = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--out", out] + common,
                       work, stamp, RUN_LIMIT_S - (time.time() - started))
        result = os.path.join(out, "result.json")
        if code is None or not os.path.isfile(result):
            log("no result")
            return 3
        with open(os.path.join(out, "report.json")) as fh:
            sys.stdout.write(fh.read().strip() + "\n")
        with open(result) as fh:
            sys.stdout.write(fh.read().strip() + "\n")
        sys.stdout.flush()
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
