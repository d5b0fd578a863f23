#!/usr/bin/env python3
"""Benchmark of the paper path: backfill, daily refresh and dashboard reads.

Run from the root of the repository:

    python3 perfbench/run.py --workload wide --seed 1 --seconds 16 --trace 0

Builds the benchmark (the program's sources plus perfbench/src) with sbt
when its sources changed, runs one workload in one JVM on local[4], and
prints the result object as the last line of standard output. With
--trace 1 the metrics are the per-layer ones and the spans of the run are
kept under .perfbench_work/traces/. The run's timing samples are kept in
.perfbench_work/<workload>.result.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".perfbench_work")
TIME_LIMIT_S = 175

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: the program build's `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        sys.exit("build.sbt declares no unmanagedBase")
    return m.group(1)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0:
        sys.exit(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    build()

    work = os.path.join(WORK, a.workload)
    out = os.path.join(WORK, f"{a.workload}.result.json")
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"benchmark JVM did not finish within {TIME_LIMIT_S} s")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"benchmark JVM failed (exit {rc})")
    with open(out) as fh:
        result = json.load(fh)
    if a.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}), flush=True)


if __name__ == "__main__":
    main()
