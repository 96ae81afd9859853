#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Builds the engine together with the harness in perfbench/ (once per source
state, under .bench_build/), generates the workload's tables, runs the
benchmark JVM, checks outputs against the DuckDB oracle, and prints as its
last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Everything it writes stays under .bench_build/ and the per-run directory is
removed at exit.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("corpus", "etl_load")
# Scale factor of the generated tables. At sf0.1 one registry query takes
# about 0.8 s on a 4-core box, too long for the runs to fit the time budget.
SF = 0.01
DEADLINE_S = 170
# Spark keeps the last 100 classes whole-stage codegen compiled. One corpus
# pass needs more, so with the default each operation recompiled a varying
# share of its classes, depending on the seeded order of the operations
# before it, and a single execution took up to twice as long. A cache that
# holds the whole workload leaves the compiling to the warm-up pass; the
# compiles that remain are reported as codegen.compiles.
CODEGEN_CACHE = 4096
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    cp = [ln for ln in lines if "sbt-target" in ln and ln.count(os.pathsep) > 10]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def oracle_check(result, data_dir):
    """Count executions whose Spark answer differs from the DuckDB oracle's."""
    import oracle
    con = oracle.connect(data_dir)
    failed = 0
    checked = {}
    for name, op in result["ops"].items():
        if op["oracle"] is None or op["fp"] is None:
            continue
        try:
            want = oracle.oracle_fingerprint(con, op["oracle"])
        except Exception as e:  # an oracle that cannot run checks nothing
            checked[name] = f"oracle error: {e}"
            continue
        checked[name] = want
        if want != op["fp"]:
            log(f"{name}: spark {op['fp']} != oracle {want}")
            failed += op["attempted"] - op["failed"]
    return failed, checked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found next to perfbench/")
    classpath = build()
    t_start = time.time()  # the deadline excludes a build

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (data_dir, tmp_dir, os.path.join(run_dir, "scratch"), os.path.join(run_dir, "stage")):
        os.makedirs(d)
    proc = None
    try:
        sys.path.insert(0, HERE)
        import gendata
        t0 = time.time()
        gendata.write(data_dir, SF)
        gen_s = time.time() - t0

        result_file = os.path.join(run_dir, "result.json")
        cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", *ADD_OPENS,
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
               f"-Djava.io.tmpdir={tmp_dir}", "-cp", classpath, "perfbench.Main",
               args.workload, str(args.seed), str(args.seconds), str(args.trace),
               data_dir, os.path.join(run_dir, "scratch"),
               result_file, f"{gen_s:.6f}"]
        env = dict(os.environ, GRAFT_STAGE_DIR=os.path.join(run_dir, "stage"),
                   SPARK_LOCAL_DIRS=tmp_dir)
        budget = DEADLINE_S - (time.time() - t_start)
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: benchmark JVM exceeded its time budget")
        if rc != 0 or not os.path.exists(result_file):
            raise SystemExit(f"perfbench: benchmark JVM failed with exit code {rc}")
        with open(result_file) as fh:
            result = json.load(fh)

        oracle_failed, oracle_fps = oracle_check(result, data_dir)
        failed = result["failed"] + oracle_failed
        detail = {k: result[k] for k in (
            "workload", "seed", "cores", "passes", "untraced_passes", "pass_seconds",
            "op_p50_ops", "op_p90_percentile", "op_samples", "box_probe_ms", "spans")}
        detail["oracle_checked"] = len(oracle_fps)
        detail["ops"] = {n: {k: op[k] for k in ("tag", "attempted", "failed", "median_ms", "min_ms", "pass_ms", "pass_cpu_s", "codegen_compiles", "median_cpu_s", "warmup_ms", "rows", "error")}
                         for n, op in result["ops"].items()}
        print(json.dumps({"detail": detail}))
        metrics = result["per_layer"] if args.trace else result["end_to_end"]
        print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
