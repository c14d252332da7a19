"""Benchmark of the team_126_spark engine.

    python3 perfbench/run.py --workload {search,suite} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from the seed,
starts one session on local[nproc], sets up (session, package ship, input
staging, an untimed warm pass at the measured scale), measures a fixed
amount of work sized to take about S seconds on a 4-core box (so that the
amount never depends on how fast it ran), checks the outputs outside the
timed region and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics. --trace 1 measures the workload
untraced and then traced, prints the per-layer metrics, and writes the
spans. Every run writes its full record (environment, end-to-end and
per-layer metrics with the workload's own names, checks) under
.bench_work/results/, Spark's stderr to .bench_work/logs/, and keeps all
temporary files (warehouse, checkpoints, staged inputs, Spark local dirs)
under a per-run directory of .bench_work/ that it removes at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search", "suite")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every temporary location of Python, the JVM and Spark into
    `work`, and fix the session's size, before anything starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TEAM126_INDEX_BASE"] = os.path.join(work, "index")
    os.makedirs(os.environ["TEAM126_INDEX_BASE"])
    # -XX:-UsePerfData: each JVM (launcher and driver) would otherwise write
    # /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"'
        " pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # session.py defaults the driver heap to 16g; keep one run small
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def redirect_stderr(path: str) -> int:
    """Send fd 2 (Spark's progress bars and warnings, inherited by the JVM)
    to `path`; returns a duplicate of the original stderr."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(2, "w", buffering=1, closefd=False)
    return saved


def host_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: the speed this shared host
    gave one core at that moment, for reading a run's figures against."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i
        times.append(time.perf_counter() - t0)
    return 1e3 * sorted(times)[2]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "seed": seed,
    }


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    the Python workers it started) to end."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:
        pass  # the JVM is already going away (e.g. on SIGTERM); wait for it below
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    bench_dir = os.path.join(ROOT, ".bench_work")
    results_dir = os.path.join(bench_dir, "results")
    logs_dir = os.path.join(bench_dir, "logs")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    for d in (results_dir, logs_dir):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    prepare_env(work)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    saved_stderr = redirect_stderr(os.path.join(logs_dir, f"{tag}.log"))
    sys.path.insert(0, ROOT)
    spark = None
    try:
        # fails (before any result line) where the program is absent
        import team_126_spark  # noqa: F401

        from perfbench import workloads
        from perfbench.context import Context
        from team_126_spark.session import get_spark
        from team_126_spark.tables import ship_package

        load_before, host_before = os.getloadavg(), host_loop_ms()
        t0 = time.time()
        spark = get_spark("perfbench")
        t1 = time.time()
        # ship before any executor-side Python (e.g. a DataSource) needs it
        ship_package(spark)
        t2 = time.time()
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), work)
        ctx.setup["session.start_s"] = t1 - t0
        ctx.setup["session.ship_s"] = t2 - t1
        result = workloads.run(args.workload, ctx)
        record = {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "environment": environment(spark, args.seed),
            "load_avg_before": load_before,
            "load_avg_after": os.getloadavg(),
            "host_loop_ms_before": host_before,
            "host_loop_ms_after": host_loop_ms(),
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            **result.record(),
        }
        with open(os.path.join(results_dir, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if args.trace:
            ctx.tracer.dump(os.path.join(results_dir, f"{tag}-spans.json"))
        line = result.output_line(bool(args.trace))
    except Exception:
        import traceback

        traceback.print_exc()
        os.write(saved_stderr, f"perfbench: {tag} failed; see .bench_work/logs/{tag}.log\n".encode())
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
