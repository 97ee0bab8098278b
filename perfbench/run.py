#!/usr/bin/env python3
"""Benchmark of the df_to_azurespark library: `load`, `curate` and
`serve` workloads, driven through the library's public functions.

Run from the repository root:

    python3 perfbench/run.py --workload load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

The first run builds the library from src/main/scala together with the
benchmark's Scala side (sbt, offline, into perfbench/target and
.bench_build/perfbench); later runs reuse the build while no source
changed. Each run then starts one JVM that generates the seeded inputs,
sets up, warms up and measures, and this script prints the metrics:
human-readable lines first, then one JSON object as the last line.
`--trace 1` adds spans and a Spark listener and reports the per-layer
metrics instead of the end-to-end ones.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("load", "curate", "serve")
RUN_LIMIT_S = 170
JDK_OPENS = ("java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar")


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build (path, size, mtime)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark's Scala side unless the
    last build is current; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("library sources src/main/scala/graft not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx3g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed to run: {e}", 1)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed (see .bench_build/perfbench/build.log)", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(CLASSPATH).read().strip()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, limit):
    """One JVM run; returns the raw record it wrote."""
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.json")
    cpus = nproc()
    mem = min(8, max(2, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (4 << 30)))
    # the throughput collector: a small heap and batch jobs
    cmd = ["java", f"-Xmx{mem}g", "-XX:+UseParallelGC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", raw]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("JAVA_TOOL_OPTIONS", None)
    log = os.path.join(BUILD, f"{workload}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload} run exceeded {limit:.0f} s (log: {log})", 1)
    if rc != 0 or not os.path.exists(raw):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"{workload} run failed with exit code {rc} (log: {log})", 1)
    with open(raw) as f:
        return json.load(f)


def cross_run_check(raw):
    """Curate outputs must hash the same in every run of one seed: the
    first run of a seed in this checkout records them, later runs
    compare. Returns the number of mismatching outputs."""
    hashes = raw.get("facts", {}).get("output_hashes")
    if not hashes:
        return 0
    docs = raw["facts"]["docs"]
    path = os.path.join(BUILD, "hashes", f"curate-{docs}-{raw['seed']}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(hashes, f)
        return 0
    with open(path) as f:
        prev = json.load(f)
    bad = [k for k in hashes if k in prev and prev[k] != hashes[k]]
    for k in bad:
        print(f"check failed: curate output {k} differs from an earlier run of seed {raw['seed']}")
    return len(bad)


def report(raw, trace, root):
    """Print the metric lines and return the result object."""
    ops = raw["ops"]
    failed = sum(not o["ok"] for o in ops) + cross_run_check(raw)
    for o in ops:
        if not o["ok"]:
            print(f"check failed: {o['name']}: {o['detail']}")
    w = raw["workload"]
    plain = [o for o in ops if o["phase"] == "measured"]
    named = metrics.named(raw, plain)
    e2e = metrics.e2e(raw, plain)
    units = dict(metrics.E2E + metrics.PER_LAYER + metrics.SERVE_LAYER)
    for k, v in e2e.items():
        print(f"{w}  {k} = {v:.6g} {units[k]}")
    for k, v in named.items():
        extra = ""
        if k == "serve.tail_s":
            lat = [(o["t1"] - o["t0"]) / 1000 for o in plain if o["route"] in ("knn", "bm25")]
            extra = f"  ({metrics.tail(lat)[0]} of {len(lat)} requests)"
        print(f"{w}  {k} = {v:.6g} {units[k]}{extra}")
    if w == "load":
        print("load  note: Derby (in-process, in-memory) stands in for SQL Server; "
              "the benchmark adds the target's unique key index before the upserts")
    if trace:
        vals = metrics.layers(raw, metrics.file_modules(root))
        for k, v in vals.items():
            print(f"{w}  layer {k} = {v:.6g} {units[k]}")
        out = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    else:
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    return {"correct": failed == 0, "attempted": len(ops),
            "failed": failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    t0 = time.time()
    results = []
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        raw = run_jvm(cp, w, a.seed, a.seconds, a.trace == 1,
                      RUN_LIMIT_S - (time.time() - t0) if a.workload != "all"
                      else RUN_LIMIT_S)
        results.append(report(raw, a.trace == 1, ROOT))
    if len(results) == 1:
        res = results[0]
    else:
        res = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {f"{w}.{k}": v for w, r in zip(WORKLOADS, results)
                           for k, v in r["metrics"].items()}}
    print(json.dumps(res, sort_keys=True))


if __name__ == "__main__":
    main()
