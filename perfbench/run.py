"""Benchmark runner: build, generate inputs, run one workload, check, report.

    python3 perfbench/run.py --workload lakehouse_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. On first use the program (src/main/scala) and
the benchmark's Scala sources (perfbench/src) are compiled together into
.bench_build/perfbench/program.jar; the first run after a build also writes
the JVM class-data-sharing archive that later runs start from. Inputs are generated from
--seed before any timing starts. The workload runs in its own JVM on
local[<all cores>] with one client thread; its outputs are checked outside
the timed regions. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced run. The line before it carries the run's named
detail (both metric sets where measured, checks, per-operation table). A
traced run also leaves its spans under .bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import gen_tables
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("lakehouse_cycle", "table_dml", "catalog")
DEADLINE_S = 170.0
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_home():
    """$SPARK_HOME, else the Spark distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("[perfbench] Spark not found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build(spark_jars):
    """Compile the program and the benchmark into one jar; returns its path."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("[perfbench] program sources (src/main/scala) not found; "
                         "run from a checkout of the repository")
    jar = os.path.join(BUILD, "program.jar")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["make", "-s", "-C", HERE, f"OUT={os.path.join(BUILD, 'classes')}",
                            f"JAR={jar}", f"SPARK_JARS={spark_jars}"],
                           stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] build failed; see {BUILD}/build.log")
    return jar


def class_archive(jar):
    """The JVM flag for the class-data-sharing archive, and the archive file
    a run that makes it writes first.

    The first run after a build writes the classes its JVM loaded to the
    archive at exit; later runs, of any workload, map the archive instead of
    loading and verifying the same classes from the jars again, which takes
    seconds of every JVM's start-up and first calls on a small machine. The
    measured calls are warm and load few classes, so the archive mostly
    shortens the unmeasured start-up and cold calls."""
    archive = os.path.join(BUILD, "program.jsa")
    if os.path.exists(archive) and os.path.getmtime(archive) >= os.path.getmtime(jar):
        return f"-XX:SharedArchiveFile={archive}", None
    partial = f"{archive}.{os.getpid()}.partial"
    return f"-XX:ArchiveClassesAtExit={partial}", (partial, archive)


def java(jar, spark_jars, run_dir, cds, args, timeout):
    """Run graft.perfbench.Main in its own JVM with inputs under
    `run_dir`/data, work files under `run_dir`/work and its log in
    `run_dir`/jvm.log; returns the exit code ("timeout" if killed)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", cds,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + JVM_OPENS +
           ["-cp", f"{jar}:{spark_jars}/*", "graft.perfbench.Main"] + args +
           ["--data", os.path.join(run_dir, "data"), "--work", os.path.join(run_dir, "work"),
            "--out", os.path.join(run_dir, "result.json")])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def run_workload(jar, spark_jars, args, run_dir, deadline):
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.plant:
        main_args += ["--plant", args.plant]
    cds, making = class_archive(jar)
    code = java(jar, spark_jars, run_dir, cds, main_args, deadline - time.time())
    if making:
        partial, archive = making
        if code == 0 and os.path.exists(partial):
            os.replace(partial, archive)
        elif os.path.exists(partial):
            os.remove(partial)
    with open(os.path.join(run_dir, "jvm.log")) as f:
        jvm_log = f.readlines()
    if code != 0:
        sys.stderr.write("".join(jvm_log[-40:]))
        raise SystemExit(f"[perfbench] workload JVM failed ({code})")
    sys.stderr.write("".join(l for l in jvm_log if l.startswith("[perfbench]")))
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="",
                    help="comma-separated check names to hand a wrong expectation on purpose "
                         "(shows each check fails)")
    args = ap.parse_args()
    started = time.time()

    spark_jars = os.path.join(spark_home(), "jars")
    jar = build(spark_jars)
    # the build is not part of a run's time budget
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        if args.workload in TABLES:
            gen_tables.generate(data, args.seed, SF, TABLES[args.workload])
        result = os.path.join(run_dir, "result.json")
        t_jvm = time.time()
        out = run_workload(jar, spark_jars, args, run_dir, deadline)
        t_check = time.time()
        if args.workload == "catalog":
            out["checks"] += oracle.check(data, os.path.join(run_dir, "work", "results"))
        log(f"inputs+build {t_jvm - started:.1f}s, workload JVM {t_check - t_jvm:.1f}s, "
            f"oracle {time.time() - t_check:.1f}s")
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
            shutil.copy(result + ".spans.jsonl", stem + ".spans.jsonl")
            with open(stem + ".json", "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = out["checks"]
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        log(f"check failed: {c['name']}: {c['why']}")
    attempted = int(out["attempted"]) + len(checks)
    failed = int(out["failed_ops"]) + len(failed_checks)
    e2e = dict(out["e2e"], error_rate=failed / attempted)
    metrics = out["layer"] if args.trace else out["e2e"]
    unit = layer_unit if args.trace else E2E_UNITS.get
    print(json.dumps({"detail": dict(out["detail"], e2e=e2e, checks=checks, ops=out["ops"])},
                     sort_keys=True))
    print(json.dumps({
        "correct": not failed_checks and out["failed_ops"] == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }))


def layer_unit(name):
    """Unit of a per-layer metric, from its name (`<layer>.<metric>[.<op>]`)."""
    metric = name.split(".")[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_share", "_util", "_amp")):
        return "ratio"
    return "count"


SF = 0.1  # sf0.1: orders 150,000 rows, lineitem 600,000, events 100,000
TABLES = {"table_dml": ("orders",), "catalog": ("orders", "lineitem", "events")}
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "bulk_s": "s", "op_p50_s": "s",
             "read_p50_s": "s"}

if __name__ == "__main__":
    main()
