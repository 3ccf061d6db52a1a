#!/usr/bin/env python3
"""Benchmark of the apache_jira_scraper_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the workload's inputs from the
seed, starts a fresh Spark session (new JVM) on local[<cores>], drives
the workload closed-loop from the driver for about S seconds, checks
the outputs without Spark and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics. `--trace 1` turns on job
groups, spans and the Spark event log, and reports the per-layer
metrics instead; its spans go to .perfbench_out/. Every file the run
writes stays under the checkout (.perfbench_work/, removed at exit).
Exit code 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import subprocess
import sys
import time

from tracing import Tracer, median, parse_event_log, percentile, tail_percentile
from workloads import GATES, WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "apache_jira_scraper_spark"
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "4g"  # below host RAM; session.py's 16g default is not
SETUPS = 2  # set-ups per run: this process's own, plus probes

# ------------------------------------------------------------ metric names

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "heap_mb": "MB",
}

_PASSES = ("cold", "warm")
# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "session.register_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "op.count": ("count", "higher"),
    "op.tail_pct": ("%", "higher"),
    "op.tail_s": ("s", "lower"),
    "trace.first_op_s": ("s", "lower"),
    "trace.op_s": ("s", "lower"),
    "scan.s": ("s", "lower"),
    "scan.requests": ("count", "lower"),
    "scan.pages": ("count", "lower"),
    "scan.requests_per_page": ("ratio", "lower"),
    "scan.mb_served": ("MB", "lower"),
    "scan.server_busy_s": ("s", "lower"),
    "extract.s": ("s", "lower"),
    "flatmap.s": ("s", "lower"),
    "flatmap.examples_per_issue": ("ratio", "higher"),
    "stats.s": ("s", "lower"),
    "zones.bronze_s": ("s", "lower"),
    "zones.silver_s": ("s", "lower"),
    "zones.gold_s": ("s", "lower"),
    "zones.stats_s": ("s", "lower"),
    "zones.mb_written": ("MB", "lower"),
    "etl.jobs": ("count", "lower"),
    "etl.executor_run_s": ("s", "lower"),
    "etl.shuffle_write_mb": ("MB", "lower"),
    "etl.spill_mb": ("MB", "lower"),
    "incr.first_restart_s": ("s", "lower"),
    "incr.batch_p50_s": ("s", "lower"),
    "incr.batch_p75_s": ("s", "lower"),
    "incr.issues_per_s": ("1/s", "higher"),
    "incr.startup_s": ("s", "lower"),
    "incr.latest_offset_s": ("s", "lower"),
    "incr.query_planning_s": ("s", "lower"),
    "incr.add_batch_s": ("s", "lower"),
    "incr.wal_commit_s": ("s", "lower"),
    "incr.commit_offsets_s": ("s", "lower"),
    "incr.trigger_s": ("s", "lower"),
    "incr.requests_per_page": ("ratio", "lower"),
    "incr.jobs_per_batch": ("count", "lower"),
    **{
        f"gates.{p}.{k}": (u, "lower")
        for p in _PASSES
        for k, u in (
            ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("jobs", "count"),
            ("executor_run_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
            ("cache_touches", "count"),
        )
    },
    **{f"mod.{m}.{p}_s": ("s", "lower") for m in GATES.values() for p in _PASSES},
}


# ------------------------------------------------------------------ set-up


def _environment(work: str) -> None:
    """Before pyspark is imported: keep every file the run writes under
    `work`, and let executor Python workers import the package."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def setup_session(work: str, trace: bool, shuffle_partitions: int | None):
    """Imports, get_spark and jira_source.register: the set-up a user of
    the engine pays before the first query."""
    t0 = time.perf_counter()
    from apache_jira_scraper_spark.session import get_spark
    from apache_jira_scraper_spark.sources import jira_source

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=shuffle_partitions,
        extra_conf=_spark_conf(work, trace),
    )
    t2 = time.perf_counter()
    jira_source.register(spark)
    t3 = time.perf_counter()
    return spark, {"total": t3 - t0, "get_spark": t2 - t1, "register": t3 - t2}


def setup_probe(work: str) -> float:
    """Set-up time of one more fresh process, measured inside it."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe", work],
        check=True,
        capture_output=True,
        text=True,
        timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


def _stop(spark) -> None:
    """Stop the session, then its gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full GC: what the session
    holds on to (cached blocks, broadcasts, planner state). Python's
    collector runs first, so dead py4j proxies release their JVM objects."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


# -------------------------------------------------------------------- run


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    wl = WORKLOADS[workload](seed, work, trace)
    try:
        spark, setup = setup_session(work, trace, wl.SHUFFLE_PARTITIONS)
        r = Run(spark, Tracer(spark.sparkContext, enabled=trace), seconds)
        try:
            wl.run(r)
            if not r.failed:
                wl.check(r)
            rss, heap = _peak_rss_mb(spark), _retained_heap_mb(spark)
        finally:
            _stop(spark)
    finally:
        wl.close()
    setups = [setup["total"]] + [setup_probe(os.path.join(work, f"probe{i}")) for i in range(1, SETUPS)]
    correct = not r.failed and not r.errors and len(r.ops) == 1 + r.steady_ops
    for e in r.errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    first, steady = wl.first_and_steady(r) if correct else (0.0, 0.0)
    if not trace:
        values = {
            "setup_s": median(setups),
            "op_s": steady,
            "heap_mb": heap,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        values = dict.fromkeys(PER_LAYER, 0.0)
        tail = tail_percentile(len(r.ops) - 1) or 50.0
        values.update(
            {
                "session.get_spark_s": setup["get_spark"],
                "session.register_s": setup["register"],
                "jvm.peak_rss_mb": rss,
                "op.count": len(r.ops),
                "op.tail_pct": tail,
                "op.tail_s": percentile(r.ops[1:], tail) if len(r.ops) > 1 else 0.0,
                "trace.first_op_s": first,
                "trace.op_s": steady,
            }
        )
        if correct:
            lines = []
            for f in glob.glob(os.path.join(work, "events", "*")):
                with open(f) as fh:
                    lines.extend(fh)
            values.update(wl.layers(r, parse_event_log(lines)))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        r.tracer.dump(os.path.join(out_dir, f"spans-{workload}-{seed}.json"))
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    return {"correct": correct, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="WORKDIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    if args.setup_probe:
        _environment(args.setup_probe)
        spark, setup = setup_session(args.setup_probe, False, None)
        _stop(spark)
        print(json.dumps({"setup_s": setup["total"]}))
        return 0
    if not args.workload:
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
