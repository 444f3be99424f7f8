#!/usr/bin/env python3
"""Fleet benchmark runner.

Usage, from the repository root:

    python3 fleetbench/run.py --workload fleet_refresh --seed 1 --seconds 3 --trace 0

Builds the engine (src/main/scala) and the benchmark (fleetbench/src/main/scala)
with the Scala compiler that ships with Spark, once per source state, into
.bench_build/fleetbench/, then runs one workload in a fresh JVM on local[nproc].
Every line the benchmark prints is passed through; the last line is one JSON
object with the keys correct, attempted, failed and metrics.

Workloads: fleet_refresh, curation_dedup.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("fleet_refresh", "curation_dedup")
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("fleetbench", "src", "main", "scala")
BUILD = os.path.join(".bench_build", "fleetbench")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would otherwise inject.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"fleetbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars: $SPARK_HOME, else the install behind spark-submit on
    PATH, else the `unmanagedBase` the repository's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    fail(f"no Spark jars with a Scala compiler found (tried {candidates}; set SPARK_HOME)")


def sources():
    for d in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(d):
            fail(f"{d} not found: run from the repository root of a full checkout")
    files = []
    for d in (ENGINE_SRC, BENCH_SRC, ENGINE_RES):
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names]
    scala = sorted(f for f in files if f.endswith(".scala"))
    if not any(f.startswith(BENCH_SRC) for f in scala):
        fail(f"no benchmark sources under {BENCH_SRC}")
    resources = sorted(f for f in files if f.startswith(ENGINE_RES))
    return scala, resources


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    scala, resources = sources()
    want = stamp(scala + resources)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-6000:], file=sys.stderr)
        fail("compilation failed", 1)
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    print(f"fleetbench: built {len(scala)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def last_json(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        obj = json.loads(lines[-1])
    except ValueError:
        return None
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return obj


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    classes = build(jars)

    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    traces = os.path.abspath(os.path.join(BUILD, "traces"))
    logs = os.path.join(BUILD, "logs")
    for d in (work, traces, logs):
        os.makedirs(d, exist_ok=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "fleetbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--traces", traces])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = last_json(out)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(out)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark exited {proc.returncode} without a result (log: {log_path})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
