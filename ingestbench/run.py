#!/usr/bin/env python3
"""Ingest benchmark runner.

Run from the root of a checkout:

    python3 ingestbench/run.py --workload wal_catchup_steady --seed 1 --seconds 8 --trace 0

Builds the benchmark (the program's sources plus ingestbench/src) with sbt
on first use, then runs one workload in its own JVM and prints the result
as the last line of standard output: one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`).

`--workload all` runs every workload untraced and then traced, and prints
a table of every metric with its unit and audit result instead.

Outputs: build, lakes and checkpoints under .bench_build/ingestbench; the
traced run's spans and per-layer table under .bench_build/ingestbench/out.
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
BUILD = os.path.join(ROOT, ".bench_build", "ingestbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# main build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"ingestbench: {msg}", file=sys.stderr, flush=True)


def child(cmd, timeout, **kw):
    """Run a child process to completion; it never outlives this one: a
    timeout or a SIGTERM/SIGINT kills it and waits for it to end."""
    p = subprocess.Popen(cmd, **kw)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"ingestbench: {cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return home
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("ingestbench: no Spark install found (set SPARK_HOME)")


def driver_mem():
    """The Tier-1 SPARK_DRIVER_MEM rule: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def source_hash():
    h = hashlib.sha256()
    tops = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    """Compile once per source state; the stamp holds the source hash."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    code, _ = child(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(cp_file):
        sys.exit("ingestbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]],
            [w["name"] for w in b["workloads"]])


def run_one(cp, env, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "ingestbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--out", os.path.join(BUILD, "out")])
    code, out = child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                      stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"ingestbench: {workload} exited with {code}")
    result = json.loads(lines[-1])
    e2e, layers, _ = declared()
    want = layers if trace else e2e
    if sorted(result["metrics"]) != sorted(want):
        sys.exit(f"ingestbench: {workload} printed metrics {sorted(result['metrics'])}, "
                 f"BENCHMARK.json declares {sorted(want)}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC) or not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        sys.exit("ingestbench: run from a checkout holding the program (src/main) "
                 "and BENCHMARK.json")
    _, _, workloads = declared()
    if a.workload != "all" and a.workload not in workloads:
        sys.exit(f"ingestbench: unknown workload {a.workload}; one of {workloads} or all")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cp = build(env)
    if a.workload != "all":
        print(json.dumps(run_one(cp, env, a.workload, a.seed, a.seconds, a.trace)))
        return
    for w in workloads:
        plain = run_one(cp, env, w, a.seed, a.seconds, 0)
        traced = run_one(cp, env, w, a.seed, a.seconds, 1)
        frac = plain["failed"] / plain["attempted"]
        print(f"== {w}: correct={plain['correct']} attempted={plain['attempted']} "
              f"failed={plain['failed']} failed_frac={frac:g}")
        for name, m in list(plain["metrics"].items()) + list(traced["metrics"].items()):
            print(f"{w}\t{name}\t{m['value']:.6g}\t{m['unit']}")
        print(f"   per-layer table: {os.path.join(BUILD, 'out', w, f'layers_seed{a.seed}.tsv')}")


if __name__ == "__main__":
    main()
