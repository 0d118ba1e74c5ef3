#!/usr/bin/env python3
"""Benchmark of the vehicle-ping loader and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cli_gz, stream_gz, query_sweep (see BENCHMARK.json), and
cli_plain, which is only run by hand (see README.md). The first run builds
the program and the harness from source with sbt (perfbench/build.sbt) and
caches the classpath in perfbench/target; later runs rebuild only when a
source file changed. Each run works in its own
directory under perfbench/.work, removed at exit, and writes its full
record to perfbench/results/<workload>-seed<n>-trace<t>.json. The last
line of stdout is the JSON summary.

    python3 perfbench/run.py --make-expected

rebuilds perfbench/expected/queries.tsv, the query digests the sweep checks,
from two runs of the current tree. The harness's own tests run with
`sbt test` inside perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
RESULTS = os.path.join(BENCH, "results")
EXPECTED = os.path.join(BENCH, "expected", "queries.tsv")
TABLES = os.path.join(BENCH, "data", "sf0.001")
WORKLOADS = ("cli_gz", "cli_plain", "stream_gz", "query_sweep")
SOURCES = ([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")] +
           sorted(glob.glob(os.path.join(ROOT, "project", "*.sbt")) +
                  glob.glob(os.path.join(ROOT, "project", "*.scala")) +
                  glob.glob(os.path.join(ROOT, "project", "build.properties"))))
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and len(out.stdout.strip()) == 40:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + source_stamp()[:16]


def run(workload, seed, seconds, trace, expected=EXPECTED):
    """Runs one workload in a fresh JVM; returns (summary line, record path)."""
    cp = classpath()
    work = os.path.join(BENCH, ".work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, "%s-seed%d-trace%d.json" % (workload, seed, trace))
    log = out[:-5] + ".log"
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env.update(SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out, "--data", TABLES,
            "--expected", expected, "--commit", commit()])
    proc = None
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=logf, text=True, start_new_session=True)
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s; see %s" % (JVM_TIMEOUT_S, log))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("%s exited with %s" % (workload, proc.returncode))
    return lines[-1], out


def make_expected():
    """Digests of two runs of this tree; a query whose digest differs
    anywhere falls back to its row count."""
    runs = []
    for seed in (1, 2):
        _, out = run("query_sweep", seed, 10, 0, expected=os.devnull)
        with open(out) as f:
            runs.append(json.load(f)["detail"][0]["queries"])
    lines = ["# query\tmode\tvalue (built by run.py --make-expected)"]
    for q in sorted(runs[0]):
        digests = {d for r in runs for d in r[q]["digests"]}
        rows = {r[q]["rows"] for r in runs}
        if None in digests or len(rows) != 1 or -1 in rows:
            fail("%s did not run cleanly: %s" % (q, digests))
        if len(digests) == 1:
            lines.append("%s\tdigest\t%s" % (q, digests.pop()))
        else:
            lines.append("%s\trows\t%d" % (q, rows.pop()))
    with open(EXPECTED, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    for p in SOURCES + [TABLES]:
        if not os.path.exists(p):
            fail("missing %s: run from the root of a full checkout" % os.path.relpath(p, ROOT))
    if a.make_expected:
        make_expected()
        return
    if a.workload is None:
        fail("--workload is required")
    line, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(line)


if __name__ == "__main__":
    main()
