#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline), records the runtime classpath
under .bench_build/ and builds the inputs that no seed changes (the
query tables and the seeded reporting state) into .bench_build/data;
later runs reuse both until a source file changes. The JVM's stdout is passed through, so the last line printed is
the benchmark's JSON result. Exits non-zero, without a result, when the
engine's sources are missing, the build fails, the run fails or it
exceeds its time limit.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("reporting_steady", "query_mix")
DATA = os.path.join(BUILD, "data")
PREPARED = os.path.join(DATA, "prepared")
BUILD_TIMEOUT_S = 450
PREPARE_TIMEOUT_S = 250
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return files


def build_if_needed():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's build.sbt and src/main/scala are not in this checkout")
    if os.path.isfile(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in source_files()):
            return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = run_child(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=log, timeout=BUILD_TIMEOUT_S)
    if code != 0 or not os.path.isfile(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {log_path}", 3)


def java_cmd(cp, tmp, args):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main", *args,
            "--fingerprints", os.path.join(HERE, "fingerprints.json"),
            "--data-cache", DATA]


def work_dir(name):
    d = os.path.join(BUILD, "runs", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def prepare_if_needed(cp, cores):
    """Builds the seed-independent inputs once per build."""
    if os.path.isfile(PREPARED) and os.path.getmtime(PREPARED) >= os.path.getmtime(CLASSPATH):
        return
    shutil.rmtree(DATA, ignore_errors=True)
    log_path = os.path.join(BUILD, "logs", "prepare.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    d = work_dir(f"prepare-{os.getpid()}")
    try:
        with open(log_path, "w") as log:
            code = run_child(java_cmd(cp, os.path.join(d, "tmp"),
                                      ["--prepare", "1", "--cores", str(cores), "--work", d]),
                             PREPARE_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"preparing inputs failed (exit {code}); log in {log_path}", 3)
    with open(PREPARED, "w") as f:
        f.write("ok\n")


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped. Returns the exit code."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    build_if_needed()
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    prepare_if_needed(cp, cores)
    run_dir = work_dir(f"{args.workload}-{args.seed}-{os.getpid()}")
    out_path = os.path.join(run_dir, "stdout.txt")
    err_path = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(err_path), exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")

    cmd = java_cmd(cp, os.path.join(run_dir, "tmp"), [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", repr(args.seconds), "--trace", args.trace,
        "--cores", str(cores), "--t0-ms", repr(time.time() * 1000.0),
        "--work", run_dir, "--trace-out", trace_out])
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err)
        with open(out_path) as f:
            lines = [l.rstrip("\n") for l in f if l.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run failed (exit {code}); log in {err_path}", 4)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
