#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch|corpus|ingest --seed N \
        --seconds S --trace 0|1

It builds the engine and the benchmark from source (sbt, whenever the
sources changed since the last build in the checkout), generates the
seeded inputs, runs the workload in one JVM
against `graft.Engine.session` on `local[nproc]`, checks the outputs
against the DuckDB oracles with the repository's `tools/selfcheck.py`,
and prints one JSON result as the last line of standard output. All
files it writes stay under `.perfbench/` and the build's `target/`
directories of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input sizes per workload. tpch reads the TPC-H tables (the sf0.01
# row counts; sf0.1 makes a run too long for the benchmark's time
# budget), corpus the documents and embeddings, ingest the documents:
# a base of 4/5 and five 25-document batches, enough for a traced run's
# warm-up and four passes. The other tables are kept small and exist
# only so that the oracle check can register them.
SIZES = {
    "tpch": dict(lineitems=60000, docs=100, vecs=100, events=1000),
    "corpus": dict(lineitems=6000, docs=1000, vecs=500, events=1000),
    "ingest": dict(lineitems=6000, docs=625, vecs=100, events=1000),
}
# Input generation is repeated and contributes its median to setup_s.
GEN_REPS = 3
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 700
# A run after the build ends within RUN_BUDGET_S; the output check gets
# at least CHECK_RESERVE_S of it.
RUN_BUDGET_S = 172
CHECK_RESERVE_S = 15

# The engine's build passes these when it forks a JVM; Spark on JDK 17
# needs them outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Everything the build reads, relative to the checkout root.
BUILD_INPUTS = ["build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]
REQUIRED = ["build.sbt", "src/main/scala/graft/Engine.scala",
            "tools/selfcheck.py", "BENCHMARK.json"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs a child in its own process group, waits for it to end and
    kills the whole group if it outlives `timeout`."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.communicate()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {log_path})")
        except BaseException:
            os.killpg(proc.pid, 9)
            proc.communicate()
            raise
    return proc.returncode, out.decode()


def sbt_env(work_root):
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(work_root, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_hash(root):
    """Digest of every file the build reads: the engine's and the
    benchmark's sources and build definitions."""
    paths = []
    for top in BUILD_INPUTS:
        base = os.path.join(root, top)
        if os.path.isfile(base):
            paths.append(base)
            continue
        for d, subdirs, files in os.walk(base):
            subdirs[:] = [s for s in subdirs if s != "target"]
            paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def read_if_exists(path):
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        return f.read().strip()


def build(root, work_root):
    """Compiles the engine and the benchmark whenever their sources
    differ from the last build in this checkout, or its outputs are
    gone; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "sources.sha256")
    stamp = source_hash(root)
    classpath = read_if_exists(cp_file)
    if (read_if_exists(stamp_file) != stamp or not classpath or not all(
            os.path.exists(p) for p in classpath.split(os.pathsep))):
        log = os.path.join(work_root, "build.log")
        code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeClasspath"], HERE, sbt_env(work_root),
                             BUILD_TIMEOUT_S, log)
        with open(log, "a") as f:
            f.write(out)
        classpath = read_if_exists(cp_file)
        if code != 0 or not classpath:
            fail(f"build failed (log: {log})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classpath


def generate(data_dir, workload, seed):
    """Writes the inputs GEN_REPS times; returns the median seconds."""
    times = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        gen.write_tables(data_dir, seed, **SIZES[workload])
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def ingest_check_data(data_dir, check_dir, watermark):
    """The tables the ingest oracles read: every document ingested so
    far (doc_id below the watermark), and the other tables unchanged."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    os.makedirs(check_dir, exist_ok=True)
    for t in gen.TABLES:
        src = os.path.join(data_dir, f"{t}.parquet")
        dst = os.path.join(check_dir, f"{t}.parquet")
        if t == "documents":
            docs = pq.read_table(src)
            pq.write_table(docs.filter(pc.less(docs["doc_id"], watermark)), dst)
        else:
            shutil.copyfile(src, dst)


def oracle_failures(root, data_dir, check_out, log_path, timeout):
    """Runs tools/selfcheck.py; returns the names of failing checks, or
    None if the check itself could not run."""
    code, out = run_proc([sys.executable, "tools/selfcheck.py", data_dir,
                          check_out], root, dict(os.environ), timeout,
                         log_path)
    with open(log_path, "a") as f:
        f.write(out)
    failed = [line.split()[1].rstrip(":") for line in out.splitlines()
              if line.startswith("FAIL ")]
    passed = [line for line in out.splitlines() if line.startswith("PASS ")]
    if code not in (0, 1) or (code == 1 and not failed):
        return None
    if not failed and not passed:
        return None
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    work_root = os.path.join(root, ".perfbench")
    os.makedirs(work_root, exist_ok=True)
    classpath = build(root, work_root)
    deadline = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(work_root, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    data_dir = os.path.join(work, "data")
    gen_s = generate(data_dir, a.workload, a.seed)
    print(f"perfbench: input generation {gen_s:.2f} s (median of {GEN_REPS})",
          file=sys.stderr)

    java = ["java", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dgraft.cacheTables=true",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data_dir, "--work", work,
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    t_jvm = time.perf_counter()
    code, out = run_proc(java, work, env,
                         deadline - CHECK_RESERVE_S - time.monotonic(),
                         os.path.join(work, "jvm.log"))
    t_check = time.perf_counter()
    sys.stdout.write(out)
    if code != 0:
        fail(f"workload run failed with exit code {code} "
             f"(log: {work}/jvm.log)")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    # untimed output check
    check_data = data_dir
    if a.workload == "ingest":
        check_data = os.path.join(work, "check_data")
        ingest_check_data(data_dir, check_data, res["doc_watermark"])
    failed_checks = oracle_failures(root, check_data,
                                    os.path.join(work, "check"),
                                    os.path.join(work, "selfcheck.log"),
                                    deadline - time.monotonic())
    print(f"perfbench: jvm {t_check - t_jvm:.1f} s, "
          f"oracle check {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
    attempts = res["attempts"]
    failures = {op: min(n, attempts.get(op, 0))
                for op, n in res["failures"].items()}
    for name in (failed_checks or []):
        print(f"check {name}: FAIL", file=sys.stderr)
        for op in res["checks"].get(name, []):
            failures[op] = attempts.get(op, 0)
    attempted = sum(attempts.values())
    failed = sum(failures.values())
    correct = failed_checks is not None and failed == 0 and attempted > 0

    metrics = {name: (value, unit) for name, value, unit in res["metrics"]}
    if not a.trace:
        setup_s = gen_s + res["session_s"] + res["setup_s"]
        metrics["setup_s"] = (setup_s, "s")
        metrics["fail_ratio"] = (failed / max(attempted, 1), "ratio")
    for name, (value, unit) in metrics.items():
        print(f"{a.workload} {name} = {value:.6g} {unit}")
    print(f"{a.workload} samples: {len(res['pass_wall_s'])} passes, "
          f"{res['read_samples']} reads")
    missing = [n for n in declared if n not in metrics]
    if missing:
        fail(f"run did not measure {', '.join(missing)}")
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]}
                    for n in declared},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
