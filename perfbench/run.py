#!/usr/bin/env python3
"""The repository's benchmark: three workloads over the extraction pipeline
and the curation surfaces, each run as one closed loop in one JVM.

    python3 perfbench/run.py --workload extract-mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. Everything it writes goes under .bench_build/.

  --trace 0  prints the end-to-end metrics BENCHMARK.json lists;
  --trace 1  prints the per-layer metrics, from a run that alternates
             untraced and traced passes, and writes the trace's spans to
             .bench_build/runs/<run>/spans.jsonl.

Every run checks its outputs: extracted text byte for byte against the
by-construction goldens, curation results against their DuckDB oracle SQL.
The last stdout line is the result JSON; the line before it is the run's
record (session and JVM recipe, seed, input size, commit, failures).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "sbt-target", "scala-2.13", "classes")
CURATE_DATA = os.path.join(BENCH_DIR, "data", "curate")
WORKLOADS = ("extract-mix", "extract-job", "curate")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run, build excluded, must end within this
SCALING_SECONDS = 6

# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def recipe(cores, work):
    """The one session and JVM recipe, stamped into every run's record."""
    return {
        "cores": cores,
        "spark": {
            "spark.master": f"local[{cores}]",
            "spark.app.name": "perfbench",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
            "spark.sql.files.maxPartitionBytes": "1m",
            "spark.sql.files.openCostInBytes": "64k",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
        "jvm": [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={cores}", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        ],
    }


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return stamp
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            # `compile` alone leaves out the program's resources (font and encoding tables)
            sbt = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"]
            rc = subprocess.run(sbt, cwd=BENCH_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=800).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}", 3)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (log in {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def host_cpu_ms():
    """Host CPU time by state from /proc/stat (USER_HZ = 100), to explain noisy runs."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) * 10 for x in f.readline().split()[1:9]]
        return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), v))
    except (OSError, ValueError):
        return {}


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(cmd_args, cores, work, home, log, deadline):
    rec = recipe(cores, work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + rec["jvm"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in rec["spark"].items()]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main"]
    cmd += cmd_args + ["--cores", str(cores), "--work", work]
    out = os.path.join(work, f"jvm-{cores}.json")
    cmd += ["--out", out]
    # Spark takes its scratch directory from SPARK_LOCAL_DIRS over any setting
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "a") as lf:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=max(deadline - time.monotonic(), 1)).returncode
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit (log in {log})", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(l for l in f.readlines() if "perfbench" in l or "Exception" in l)[-4000:])
        fail(f"benchmark JVM failed with code {rc} (log in {log})", 4)
    with open(out) as f:
        return json.load(f), rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program sources (src/main/scala/graft) are missing")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    stamp = build(env)

    deadline = time.monotonic() + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))  # as nproc counts them
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(BUILD_DIR, "runs", run_id)
    work = os.path.join(BUILD_DIR, "work", run_id)
    os.makedirs(run_dir)
    os.makedirs(work)
    log = os.path.join(run_dir, "jvm.log")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-id", run_id, "--data", CURATE_DATA,
                "--spans", os.path.join(run_dir, "spans.jsonl")]
        phases = {}
        cpu0 = host_cpu_ms()
        t = time.monotonic()
        res, rec = run_jvm(args, cores, work, home, log, deadline)
        phases["jvm_s"] = time.monotonic() - t
        metrics = res["metrics"]
        attempted, failed = int(res["attempted"]), int(res["failed"])
        failures = list(res["failures"])

        if a.workload == "curate":
            sys.path.insert(0, BENCH_DIR)
            sys.dont_write_bytecode = True
            import oracle
            passes = int(res["passes"])
            t = time.monotonic()
            for q, why in oracle.compare(os.path.join(work, "dump")).items():
                if why:
                    failed += passes
                    failures.append(f"{q}: {why}")
            phases["oracle_s"] = time.monotonic() - t

        if a.trace and a.workload == "extract-mix":
            t = time.monotonic()
            one, _ = run_jvm(["--mode", "scaling", "--seed", str(a.seed), "--seconds", str(SCALING_SECONDS),
                              "--run-id", run_id, "--input", os.path.join(work, f"input-{res['setups']}")],
                             1, work, home, log, deadline)
            phases["scaling_jvm_s"] = time.monotonic() - t
            metrics["pipeline.extract.scaling_eff"] = res["docs_per_s"] / (cores * one["docs_per_s"])
        cpu1 = host_cpu_ms()
        phases["host_ms"] = {k: cpu1[k] - cpu0[k] for k in cpu1 if k in cpu0}
        if not a.trace:
            metrics["ok_frac"] = 1.0 - failed / max(attempted, 1)

        unknown = set(metrics) - set(units)
        if unknown:
            fail(f"metrics not in BENCHMARK.json: {sorted(unknown)}", 5)
        if a.trace:  # layers a workload does not run report 0
            metrics = {n: metrics.get(n, 0.0) for n in units}
        missing = set(units) - set(metrics)
        if missing:
            fail(f"metrics not measured: {sorted(missing)}", 5)

        record = {
            "run": run_id, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "docs": int(res["docs"]), "input_bytes": int(res["input_bytes"]),
            "passes": int(res["passes"]), "setups": int(res["setups"]),
            "failed_frac": failed / max(attempted, 1), "failures": failures[:20],
            "git_commit": git_commit(), "source_sha256": stamp, "recipe": rec, "phases": phases,
            "spans": os.path.relpath(os.path.join(run_dir, "spans.jsonl"), ROOT) if a.trace else None,
        }
        with open(os.path.join(run_dir, "record.json"), "w") as f:
            json.dump({"record": record, "jvm": res, "metrics": metrics}, f, indent=1)
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
