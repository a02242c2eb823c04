"""Benchmark of the geo-indicator ETL: the write side (E1/E2 load) and
revisions beside the read side (PrimaryQuery/RelatedCharts over SQL
views), through the package's public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
module's public functions and prints the per-layer metrics instead. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give every figure by name and unit. ``python3 perfbench/selftest.py``
runs both workloads at a tiny scale with their checks.

All scratch state (warehouses, Spark local dirs, and the cached
warehouses both workloads start from) lives under ``.perfbench/`` in
the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "geo_explorer_etl_spark"
WORKLOADS = ("ingest", "revise")
# a fixed JVM heap (initial = maximum) and the parallel collector, so
# heap growth and the collections it triggers do not differ from run to
# run; and only the C1 JIT compiler, which halves the CPU a cold
# insert burns compiling code it runs once, so a run depends less on
# how many cores the machine's other load leaves free (DESIGN.md has
# the measurements behind both choices)
JVM_HEAP = "2g"
JVM_OPTS = f"-Xms{JVM_HEAP} -XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:-UsePerfData"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test scale)")
    p.add_argument("--build-base", metavar="DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.build_base is None and args.workload is None:
        p.error("--workload is required")
    return args


def pin_environment(work: Path) -> dict:
    """Everything the package reads from the environment, fixed here
    before pyspark is imported; returns the environment for children."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # the store_source data-source workers import the package
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path[:0] = [str(ROOT), str(HERE)]
    return dict(os.environ)


def start_spark(work: Path):
    from geo_explorer_etl_spark.session import get_spark

    java_opts = f"{JVM_OPTS} -Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def descendants(root: int) -> set[int]:
    """Every live process below ``root``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # it ended meanwhile
                pass
    found, frontier = set(), {root}
    while frontier:
        frontier = {pid for pid, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` runs (an exited process waiting to be
    reaped counts as ended), killing what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while pids:
        for pid in list(pids):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    running = f.read().rsplit(")", 1)[1].split()[0] != "Z"
                if running and time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
            except OSError:  # it ended meanwhile
                running = False
            if not running:
                pids.discard(pid)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM and the Python workers it
    started, and wait for them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else set()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(workers)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


def human(res, metrics: dict, extra: dict) -> None:
    """Every figure by name and unit, before the JSON line."""
    print(f"workload {res.workload}: {len(res.cycles)} cycles, {res.attempted} operations, "
          f"set-up passes {', '.join(f'{t:.2f}' for t in res.setup_s)} s")
    for kind, vals in res.times.items():
        p90 = sorted(vals)[math.ceil(0.9 * len(vals)) - 1]
        print(f"  {res.workload}.{kind}_p50_s = {statistics.median(vals):.4f} s"
              f"  (p90 {p90:.4f} s, n={len(vals)})")
    for name, (value, unit) in {**metrics, **extra}.items():
        print(f"  {name} = {value:.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    cwd = Path.cwd()
    if args.build_base:
        work = Path(args.build_base).parent / f"{Path(args.build_base).name}-scratch"
    else:
        work = cwd / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    env = pin_environment(work)
    import gen
    import workloads as W
    from spans import NoTracer, Tracer, layer_metrics

    shape = W.TINY_SHAPE if args.tiny else gen.Shape()
    started = time.perf_counter()
    spark = start_spark(work)
    spark_start_s = time.perf_counter() - started
    try:
        if args.build_base:
            W.build_base(spark, gen.generate(W.DATA_SEED, shape), Path(args.build_base))
            return 0
        base = W.ensure_base(ROOT, cwd / ".perfbench", shape, env)
        tracer = Tracer(spark) if args.trace else NoTracer()
        run_workload = W.run_ingest if args.workload == "ingest" else W.run_revise
        res = run_workload(spark, tracer, work, args.seed, args.seconds, base, shape)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not res.cycles:
        print("perfbench: no cycle completed", file=sys.stderr)
        return 1
    failed = min(res.failed + len(res.checks_failed), res.attempted)
    extra = {"spark_start_s": (spark_start_s, "s"), "run_s": (time.perf_counter() - started, "s"),
             "failed_ratio": (failed / res.attempted, "ratio")}
    if res.warmup_s:
        extra["warmup_s"] = (res.warmup_s, "s")
    if args.trace:
        metrics = layer_metrics(tracer, len(res.cycles), res.space)
    else:
        metrics = {
            "setup_s": (statistics.median(res.setup_s), "s"),
            "cycle_s": (statistics.median(res.cycles), "s"),
            "rows_per_s": (res.rows / sum(res.cycles), "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
    human(res, metrics, extra)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
