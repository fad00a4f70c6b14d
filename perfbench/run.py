#!/usr/bin/env python3
"""Benchmark runner for the splitter engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload osm_keep_complete --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source on first use (sbt, into
the checkout), then runs one workload in a fresh JVM and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of the timed passes;
with --trace 1 they are the per-layer metrics of one extra traced pass.
Workloads, metrics and the layer each metric belongs to are described in
perfbench/README.md. Exits non-zero, without a result line, when the
program cannot be built or run, or when a pass cannot be checked.
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

WORKLOADS = ("osm_keep_complete", "corpus_split", "query_catalog")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout may take 900 s
HEAP = "2g"

# Spark 4 on JDK 17 needs these opens outside spark-submit; the same list
# as the root build's javaOptions.
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


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {limit_s:.0f} s")
    return proc.returncode, out


def source_fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, bench, work):
    """Compile program + benchmark with sbt; cache the runtime classpath
    keyed by a fingerprint of every source and build file."""
    srcs = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(root, "src", "main"), os.path.join(bench, "build.sbt"),
            os.path.join(bench, "project", "build.properties"), os.path.join(bench, "src")]
    fp = source_fingerprint(srcs)
    cp_file = os.path.join(work, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(work, "sbt-tmp"), exist_ok=True)
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/sbt-tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(sbt_opts)
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    print(f"# build: {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no program source at ./{need}; run from the root of a checkout")
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, bench, work)

    wdir = os.path.join(work, "run", a.workload)
    shutil.rmtree(os.path.join(wdir, "tmp"), ignore_errors=True)  # a killed run's leftovers
    os.makedirs(os.path.join(wdir, "tmp"))
    result = os.path.join(wdir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={wdir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", wdir,
            "--data", os.path.join(bench, "data"), "--python", sys.executable,
            "--oracle", os.path.join(bench, "oracle.py"), "--result", result])
    rc, _ = run_bounded(cmd, RUN_LIMIT_S, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {rc}")
    with open(result) as f:
        res = json.load(f)
    for line in res.pop("notes"):
        print(f"# {line}")
    for k, m in res["metrics"].items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
