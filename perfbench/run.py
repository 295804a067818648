#!/usr/bin/env python3
"""perfbench: one benchmark for the engine's ingest and query paths.

    python3 perfbench/run.py --workload ingest_jdbc --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout. The first run builds the engine and the
benchmark from this checkout's sources (sbt, in perfbench/); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`, local[nproc]) that sets up, warms up, measures and
checks one workload, and writes a raw record; this script turns the record
into metrics, runs the DuckDB oracle for query_mix, prints the metrics by
name and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. Every run also leaves its full record
under perfbench/results/<workload>/ (spans as JSON lines for traced runs).
The exit code is 0 only when every check passed.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ingest_jdbc", "ingest_lake", "query_mix")
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 850
HEAP = "2g"
QUERY_MIX_SF = 0.01
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        die("SPARK_HOME must point at a Spark 4 installation")
    return jars


def check_checkout():
    """The benchmark builds the engine from the checkout it sits in."""
    for p in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, p)):
            die(f"{p} not found under {ROOT}: run from a full checkout")


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    jar = os.path.join(HERE, "target", "perfbench.jar")
    jars = sorted(os.path.join(spark_jars(), f)
                  for f in os.listdir(spark_jars()) if f.endswith(".jar"))
    return os.pathsep.join([jar] + jars)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_args(work):
    args = [java()]
    for m in ADD_OPENS:
        args += ["--add-opens", f"{m}=ALL-UNNAMED"]
    args += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"]
    return args + ["-cp", classpath(), "perfbench.Main"]


def build():
    """Compiles and packages engine + benchmark unless this exact source
    tree is built."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
            cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 1)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 1)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def run_jvm(workload, seed, seconds, trace, work, record):
    cmd = jvm_args(work) + [
        workload, str(seed), str(seconds), str(int(trace)), work, record]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=out,
                               stderr=subprocess.STDOUT, timeout=RUN_LIMIT_S)
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(record):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        return None, f"JVM exited with {code}:\n{tail}"
    with open(record) as f:
        return json.load(f), None


def run_one(workload, seed, seconds, trace):
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    try:
        fixture_s = 0.0
        if workload == "query_mix":
            g0 = time.time()
            fixture.write(os.path.join(work, "fixture"), seed, QUERY_MIX_SF)
            fixture_s = time.time() - g0
        steal0, t0 = steal_ticks(), time.time()
        rec, err = run_jvm(workload, seed, seconds, trace, work, record_path)
        if rec is None:
            return None, err
        rec["steal_ticks"] = steal_ticks() - steal0 if steal0 >= 0 else -1
        rec["jvm_wall_s"] = time.time() - t0
        if workload == "query_mix":
            # the harness's own work: recorded, but not part of setup_s
            rec["fixture_s"] = fixture_s
            rec["params"]["scale_factor"] = QUERY_MIX_SF
            rec["oracle"] = oracle.check(rec["fixture_dir"],
                                         rec["outputs_dir"], work)
        spans_path = record_path[:-len(".json")] + ".spans.jsonl"
        spans = []
        if trace and os.path.exists(spans_path):
            with open(spans_path) as f:
                spans = [json.loads(line) for line in f if line.strip()]
        result = metrics.evaluate(rec, spans)
        save(result, spans_path if trace else None)
        return result, None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def save(result, spans_path):
    rec = result["record"]
    out = os.path.join(HERE, "results", rec["workload"])
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, time.strftime("%Y%m%dT%H%M%S") +
                        f"-seed{rec['seed']}-trace{int(rec['trace'])}"
                        f"-{os.getpid()}")
    if rec["trace"]:
        result["tracing_overhead"] = metrics.tracing_overhead(
            result, load_results(os.path.dirname(stem), trace=False))
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    if spans_path:
        shutil.copyfile(spans_path, stem + ".spans.jsonl")
    result["saved_as"] = stem + ".json"


def load_results(directory, trace):
    found = []
    if not os.path.isdir(directory):
        return found
    for name in sorted(os.listdir(directory)):
        if name.endswith(".json"):
            with open(os.path.join(directory, name)) as f:
                r = json.load(f)
            if bool(r["record"]["trace"]) == bool(trace):
                found.append(r)
    return found


def describe(result):
    """Human-readable lines: the headline metrics of this workload."""
    lines = [f"# {result['record']['workload']} seed={result['record']['seed']}"
             f" trace={int(result['record']['trace'])}"]
    for name, (value, unit) in sorted(result["named"].items()):
        lines.append(f"{name} = {metrics.fmt(value)} {unit}")
    for c in result["failures"]:
        lines.append(f"FAILED: {c}")
    if "tracing_overhead" in result:
        lines.append("tracing_overhead = " +
                     json.dumps(result["tracing_overhead"], sort_keys=True))
    return lines


def summary(results):
    """The last line of the output and the exit code: 0 only when every
    check of every workload passed."""
    def head(r):
        return {"correct": r["correct"], "attempted": r["attempted"],
                "failed": r["failed"], "metrics": r["metrics"]}
    if len(results) == 1:
        line = json.dumps(head(results[0]))
    else:
        line = json.dumps({r["record"]["workload"]: head(r) for r in results})
    return line, 0 if all(r["correct"] for r in results) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    check_checkout()
    spark_jars()
    build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = []
    for w in names:
        result, err = run_one(w, a.seed, a.seconds, a.trace)
        if result is None:
            die(f"{w}: {err}", 1)
        results.append(result)
        for line in describe(result):
            print(line)
    line, code = summary(results)
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
