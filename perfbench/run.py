#!/usr/bin/env python3
"""graft reference-path benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {serve_mixed,dedup_text} \
        --seed N --seconds S --trace {0,1}

Builds the library and the benchmark code from source on first use (an sbt
project of its own, in this directory, offline against the toolchain's Spark
jars), then runs one workload in one JVM on `local[4]` with one client.
Lines starting with "report " carry every figure the run took; the last line
is the result: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are BENCHMARK.json's `end_to_end` ones, with
`--trace 1` its `per_layer` ones. Exits non-zero, without a result, when the
build or the run fails, and with a result but non-zero when a check fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions), as the library's own build passes them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles library and benchmark once per source state; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")
    with open(bench_file) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2, Spark's code kept two compiler threads busy for a
    # minute and more, so each run timed a different point of the JIT's
    # progress; C1 settles within the warm-up. The code cache is raised
    # because C1-only code fills the 48 MB default, and a full cache
    # flushes compiled code mid-run.
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(BUILD, "work")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    for line in lines:
        if line.startswith("report "):
            print(line)
    results = [l for l in lines if l.startswith("{")]
    if not results:
        fail(f"the run printed no result (exit code {proc.returncode})")
    result = json.loads(results[-1])

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in declared})
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if args.trace:
            # a layer a workload does not exercise reads 0
            metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
        else:
            if v is None or v["unit"] != m["unit"]:
                fail(f"end-to-end metric {m['name']} missing or in another unit: {v}")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
