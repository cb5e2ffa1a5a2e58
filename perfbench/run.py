#!/usr/bin/env python3
"""Per-PR benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (cached under `.bench_build/perfbench/`, keyed
by the sources); every run then generates the workload's inputs from the
seed, runs one JVM (`perfbench.Main`) that drives the engine through its
public entry points, checks the outputs, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(the traced run measures the workload untraced, then again traced; the
difference is the tracing overhead) and keeps the spans in
`.bench_build/perfbench/spans-<workload>-<seed>.json`. Host facts (nproc,
load average), JVM phase times and sample counts go to stderr and to
`.bench_build/perfbench/history.jsonl`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reduce  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream_drain", "batch_maintenance")
CORES = 4  # the engine's local[N] parallelism, fixed so runs compare across hosts
HEAP = "2g"  # fixed and pre-touched heap: peak RSS compares across runs
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: the engine's build and main sources and
    the harness. Missing engine sources mean there is nothing to measure."""
    required = [os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    for p in required:
        if not os.path.isfile(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from the root of a checkout", 2)
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, names in os.walk(d):
            files += [os.path.join(dp, n) for n in names]
    return sorted(files)


def build():
    """The runtime classpath, building with sbt when the sources changed."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    os.makedirs(STATE, exist_ok=True)
    key_file, cp_file = os.path.join(STATE, "build.key"), os.path.join(STATE, "classpath.txt")
    if os.path.isfile(key_file) and open(key_file).read() == key:
        cp = open(cp_file).read()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(key_file, "w") as f:
        f.write(key)
    return open(cp_file).read()


def run_jvm(cp, workload, work, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file: the run writes only inside the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(CORES)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.isfile(os.path.join(work, "raw.json")):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"engine run failed ({code})", 4)
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        sizes = gen.generate(a.workload, a.seed, work)
        gen_s = time.perf_counter() - t0
        raw = run_jvm(cp, a.workload, work, a.seconds, a.trace, deadline)
        result, notes = reduce.reduce(a.workload, raw, sizes, gen_s, work, a.trace, CORES)
        if a.trace:
            with open(os.path.join(STATE, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(raw["traced"]["spans"], f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "wall_s": round(time.time() - started, 2)}
    print(f"[perfbench] {json.dumps(host)}", file=sys.stderr)
    for n in notes:
        print(f"[perfbench] {n}", file=sys.stderr)
    with open(os.path.join(STATE, "history.jsonl"), "a") as f:
        f.write(json.dumps({"host": host, "notes": notes, "result": result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
