#!/usr/bin/env python3
"""graft's benchmark: one workload per call, one JSON result line.

Usage (from the root of a graft checkout):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_batch, query_sweep, stream_dedup (see graftbench/NOTES.md).
The first call builds graft's sources together with the benchmark harness
(sbt, offline; the build is reused while the sources stay the same). The
run itself is one JVM on local[nproc]; everything it writes stays under
.bench_work/ in the checkout. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Spark's own log goes to
.bench_work/run/jvm.log.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("pipeline_batch", "query_sweep", "stream_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "graftbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            done = json.load(fh)
        if done.get("digest") == digest:
            return done["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    classpath = [line for line in p.stdout.splitlines() if line.strip()][-1].strip()
    if "graftbench" not in classpath:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def run_jvm(classpath, args, run_dir):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "graftbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir,
            "--data", os.path.join(HERE, "data", "sf0.1"),
            "--expected", os.path.join(HERE, "expected", "queries_sf0.1.json"),
            "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run did not finish within {RUN_TIMEOUT_S} s (log: {log_path})", 3)
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (java exit {code})", 3)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")

    classpath = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    result = run_jvm(classpath, args, run_dir)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {sorted(result)}", 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
