#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload ivm_trickle --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run compiles `src/main/scala` and
the benchmark's own Scala sources into `perfbench/.build` (reused while the
sources are unchanged), then starts one JVM that runs the workload. The last
line of standard output is the result: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer ones with
`--trace 1`). The full record of the run, with the environment and one entry
per operation, is written under `perfbench/.work/records/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("ivm_trickle", "ivm_bulk", "registry_mix")
RUN_TIMEOUT_S = 170
HEAP = "4g"

# JDK 17 module opens Spark needs outside spark-submit (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        cand = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            fail("no build.sbt here; run from the root of a checkout")
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        cand = m.group(1)
    if not os.path.isdir(cand):
        fail(f"Spark jar directory {cand} not found")
    return cand


def sources():
    roots = [os.path.join("src", "main", "scala"), os.path.join(BENCH, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            fail(f"{r} not found; run from the root of a checkout")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile the library and the benchmark once per distinct source tree.
    Returns (classes dir, source digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, digest)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes, digest
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-cp", cp, "-d", tmp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        os.rename(tmp, classes)
        print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return classes, digest


def source_id(digest):
    """The git commit when the checkout is a repository, else the source digest."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return "git:" + r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src:" + digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    data = os.path.join(BENCH, "data", "sf0.1")
    if not os.path.isdir(data):
        fail(f"{data} not found")
    jars = spark_jars()
    classes, digest = build(jars)

    for d in ("tmp", "spark-local", "records", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record = os.path.join(WORK, "records", tag + ".json")
    log_path = os.path.join(WORK, "logs", tag + ".log")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed heap (-Xms = -Xmx), so runs do not differ in how the heap grew
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--bench", BENCH, "--work", WORK,
            "--record", record])
    env = dict(os.environ, PERFBENCH_SOURCE=source_id(digest))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result line from the benchmark JVM")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    if not result["correct"]:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
