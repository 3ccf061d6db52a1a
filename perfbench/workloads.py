"""The benchmark's two workloads.

Each workload is built from the seed before the Spark session exists
(inputs, endpoint), then `run` drives it closed-loop from the driver
with one client, `check` verifies its outputs against expectations
computed or recorded outside Spark, and `layers` turns a traced run
into per-layer numbers.

An operation is one ETL (`jira_etl`), one incremental restart (the
traced `jira_etl` run's incremental phase) or one gate execution
(`gate_suite`). `Run.ops` holds the wall time of each timed unit: every
ETL and each whole gate pass; `first_and_steady` reduces them to the
cold first operation and the steady one. The steady figure is a
minimum, as in bench.py: on a shared host a time is the work plus
whatever the host adds (the JIT warm-up of the first few repeats, and
stretches of stolen CPU that last tens of seconds), and the minimum is
the reading that least depends on either.
"""

from __future__ import annotations

import glob
import json
import os
import random
import time
import traceback
from collections import Counter

from corpus import TASK_TYPES, expected_task_counts, make_corpus
from endpoint import SearchEndpoint
from tracing import EventLog, Tracer, attribute, median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1e6
# A steady operation takes about this long on 4 cores; the steady phase
# runs seconds // NOMINAL_OP_S of them (at least 2), so every run with
# the same --seconds measures the same work.
NOMINAL_OP_S = 4.0


class Run:
    def __init__(self, spark, tracer: Tracer, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.steady_ops = max(2, int(seconds // NOMINAL_OP_S))

    def attempt(self, fn, *args) -> bool:
        """One operation; a failure is counted and logged, not raised."""
        self.attempted += 1
        try:
            fn(*args)
            return True
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return False

    def timed(self, fn, *args) -> None:
        t0 = time.perf_counter()
        if self.attempt(fn, *args):
            self.ops.append(time.perf_counter() - t0)

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)


def _jobs_under(tracer: Tracer, by_span: dict, root) -> list:
    """Jobs attributed to `root` or any span nested in it."""
    ids, frontier = {root.id}, [root.id]
    while frontier:
        kids = [s.id for s in tracer.spans if s.parent in frontier]
        ids.update(kids)
        frontier = kids
    return [j for i in ids for j in by_span.get(i, [])]


def _exec_layers(prefix: str, log: EventLog, jobs: list) -> dict:
    tot = log.stage_totals(jobs)
    return {
        f"{prefix}.jobs": len(jobs),
        f"{prefix}.executor_run_s": tot["run_ms"] / 1000,
        f"{prefix}.shuffle_write_mb": tot["shuffle_write_b"] / MB,
        f"{prefix}.spill_mb": tot["spill_b"] / MB,
    }


def _parquet_column(path: str, column: str) -> list:
    import pyarrow.parquet as pq

    out: list = []
    for f in sorted(glob.glob(f"{path}/**/*.parquet", recursive=True)):
        out.extend(pq.read_table(f, columns=[column]).column(column).to_pylist())
    return out


def _dir_mb(path: str) -> float:
    files = [f for f in glob.glob(f"{path}/**/*", recursive=True) if os.path.isfile(f)]
    return sum(os.path.getsize(f) for f in files) / MB


# ------------------------------------------------------------------ jira_etl


class JiraEtl:
    """Scan a seeded corpus through the `jira` source, then run_pipeline
    and write_zones (bronze, silver, gold JSONL, stats), repeated in one
    session."""

    PROJECTS, PER_PROJECT, PAGE = 4, 300, 50
    SHUFFLE_PARTITIONS = None  # get_spark's default

    def __init__(self, seed: int, work: str, trace: bool):
        self.corpus = make_corpus(seed, self.PROJECTS, self.PER_PROJECT)
        self.endpoint = SearchEndpoint(self.corpus, self.PAGE).__enter__()
        self.out = f"{work}/zones"
        self.scan_counters: dict = {}
        self.incr = IncrementalPhase(seed, work) if trace else None

    def close(self) -> None:
        self.endpoint.__exit__()
        if self.incr:
            self.incr.close()

    def _parsed(self, spark):
        from pyspark.sql import functions as F

        from apache_jira_scraper_spark.schemas import RAW_ISSUE

        raw = (
            spark.read.format("jira")
            .option("base_url", self.endpoint.url)
            .option("projects", ",".join(self.corpus))
            .option("page_size", self.PAGE)
            .load()
        )
        return raw.select("project", F.from_json("payload", RAW_ISSUE).alias("i")).select(
            "project", "i.*"
        )

    def etl(self, r: Run) -> None:
        from apache_jira_scraper_spark.pipeline import run_pipeline, write_zones

        t = r.tracer
        self.endpoint.reset_counters()
        with t.span("etl"):
            with t.span("sources.jira_source.load"):
                parsed = self._parsed(r.spark)
            with t.span("pipeline.run_pipeline"):
                result = run_pipeline(parsed)
            with t.span("pipeline.write_zones"):
                write_zones(result, self.out)
        self.scan_counters = self.endpoint.counters.snapshot()

    def run(self, r: Run) -> None:
        for _ in range(1 + r.steady_ops):
            r.timed(self.etl, r)
            if r.failed:
                break
        if self.incr and not r.failed:
            self._layer_passes(r)
            self.incr.run(r)

    def _layer_passes(self, r: Run) -> None:
        """Traced run only: each layer's execution timed on its own with
        the noop sink, over the scan or over the silver zone."""
        from apache_jira_scraper_spark.operators.extract import extract_issues
        from apache_jira_scraper_spark.operators.stats import (
            summary_statistics,
            task_type_distribution,
        )
        from apache_jira_scraper_spark.operators.tasks import issues_to_examples

        t, spark = r.tracer, r.spark
        with t.span("layer.scan"):
            self._parsed(spark).write.format("noop").mode("overwrite").save()
        with t.span("layer.extract"):
            extract_issues(self._parsed(spark)).write.format("noop").mode("overwrite").save()
        silver = spark.read.parquet(f"{self.out}/silver/issues")
        with t.span("layer.flatmap"):
            issues_to_examples(silver).write.format("noop").mode("overwrite").save()
        examples = issues_to_examples(silver)
        with t.span("layer.stats"):
            summary_statistics(examples).collect()
            task_type_distribution(examples).collect()

    def first_and_steady(self, r: Run) -> tuple[float, float]:
        return r.ops[0], min(r.ops[1:])

    def check(self, r: Run) -> None:
        n = sum(len(v) for v in self.corpus.values())
        keys = _parquet_column(f"{self.out}/silver/issues", "issue_key")
        r.expect(len(keys) == n and len(set(keys)) == n, f"silver has {len(keys)} rows, want {n}")
        want = expected_task_counts([i for v in self.corpus.values() for i in v])
        got = dict.fromkeys(TASK_TYPES, 0)
        for task in TASK_TYPES:
            for f in glob.glob(f"{self.out}/gold/examples/task={task}/*.json"):
                with open(f, "rb") as fh:
                    got[task] += sum(1 for _ in fh)
        r.expect(got == want, f"gold examples per task {got}, want {want}")
        self.examples = sum(got.values())
        if self.incr:
            self.incr.check(r)

    def layers(self, r: Run, log: EventLog) -> dict:
        t = r.tracer
        by_span = attribute(t, log)
        last = t.named("etl")[-1]
        zones = dict.fromkeys(("bronze", "silver", "gold", "stats"), 0.0)
        for ex in log.sql:
            if ex["path"] and last.start <= ex["start"] <= last.end:
                for z in zones:
                    if f"/{z}/" in ex["path"]:
                        zones[z] += ex["end"] - ex["start"]
        c = self.scan_counters
        n = sum(len(v) for v in self.corpus.values())

        def one(name: str) -> float:
            return t.named(name)[-1].s

        return {
            "scan.s": one("layer.scan"),
            "scan.requests": c["requests"],
            "scan.pages": c["pages"],
            "scan.requests_per_page": c["requests"] / max(c["pages"], 1),
            "scan.mb_served": c["bytes"] / MB,
            "scan.server_busy_s": c["busy_s"],
            "extract.s": one("layer.extract") - one("layer.scan"),
            "flatmap.s": one("layer.flatmap"),
            "flatmap.examples_per_issue": self.examples / n,
            "stats.s": one("layer.stats"),
            **{f"zones.{z}_s": v for z, v in zones.items()},
            "zones.mb_written": _dir_mb(self.out),
            **_exec_layers("etl", log, _jobs_under(t, by_span, last)),
            **self.incr.layers(r, by_span),
        }


class IncrementalPhase:
    """Restart-per-increment streaming ingest, run after the ETLs of a
    traced `jira_etl` run: before each restart every project grows by INC
    issues, and the restart runs one availableNow micro-batch from the
    checkpoint through extract_issues into write_idempotent_parquet (the
    pattern tests/test_jira_source.py::test_streaming_incremental_offsets
    pins)."""

    PROJECTS, INC, PAGE = 2, 100, 50
    RESTARTS = 12

    def __init__(self, seed: int, work: str):
        self.corpus = make_corpus(seed + 7919, self.PROJECTS, self.INC * self.RESTARTS)
        self.endpoint = SearchEndpoint(self.corpus, self.PAGE).__enter__()
        for p in self.endpoint.visible:
            self.endpoint.visible[p] = 0
        self.out, self.ckpt = f"{work}/landed", f"{work}/ckpt"
        self.progress: list[dict] = []
        self.restarts = 0

    def close(self) -> None:
        self.endpoint.__exit__()

    def _stream(self, spark):
        from pyspark.sql import functions as F

        from apache_jira_scraper_spark.operators.extract import extract_issues
        from apache_jira_scraper_spark.schemas import RAW_ISSUE

        raw = (
            spark.readStream.format("jira")
            .option("base_url", self.endpoint.url)
            .option("projects", ",".join(self.corpus))
            .option("page_size", self.PAGE)
            .option("max_pages_per_trigger", self.INC // self.PAGE)
            .load()
        )
        parsed = raw.select("project", F.from_json("payload", RAW_ISSUE).alias("i")).select(
            "project", "i.*"
        )
        return extract_issues(parsed, base_url=self.endpoint.url)

    def restart(self, r: Run, stream) -> None:
        from apache_jira_scraper_spark.streaming.pipelines import write_idempotent_parquet

        with r.tracer.span("incr.restart") as sp:
            q = write_idempotent_parquet(stream, self.out, self.ckpt)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(batches) != 1:
            raise RuntimeError(f"restart landed {len(batches)} batches, want 1")
        self.progress.append({"wall": sp.s, **json.loads(batches[0].json)["durationMs"]})

    def run(self, r: Run) -> None:
        stream = self._stream(r.spark)
        t_start = time.perf_counter()
        while self.restarts < self.RESTARTS:
            self.restarts += 1
            for p in self.endpoint.visible:
                self.endpoint.visible[p] = self.INC * self.restarts
            if not r.attempt(self.restart, r, stream):
                break
        self.wall = time.perf_counter() - t_start
        self.counters = self.endpoint.counters.snapshot()

    def check(self, r: Run) -> None:
        served = [i["key"] for v in self.corpus.values() for i in v[: self.INC * self.restarts]]
        landed = Counter(_parquet_column(self.out, "issue_key"))
        dupes = sum(1 for n in landed.values() if n > 1)
        r.expect(
            set(landed) == set(served) and not dupes,
            f"landed {len(landed)} distinct keys ({dupes} duplicated), served {len(served)}",
        )
        self.landed = sum(landed.values())

    def layers(self, r: Run, by_span: dict) -> dict:
        t = r.tracer
        steady = self.progress[1:]

        def med(phase: str) -> float:
            return median([p.get(phase, 0) for p in steady]) / 1000

        walls = [p["wall"] for p in steady]
        jobs = [len(_jobs_under(t, by_span, s)) for s in t.named("incr.restart")[1:]]
        c = self.counters
        return {
            "incr.first_restart_s": self.progress[0]["wall"],
            "incr.batch_p50_s": median(walls),
            "incr.batch_p75_s": percentile(walls, 75),
            "incr.issues_per_s": self.landed / self.wall,
            "incr.startup_s": median([p["wall"] - p["triggerExecution"] / 1000 for p in steady]),
            "incr.latest_offset_s": med("latestOffset"),
            "incr.query_planning_s": med("queryPlanning"),
            "incr.add_batch_s": med("addBatch"),
            "incr.wal_commit_s": med("walCommit"),
            "incr.commit_offsets_s": med("commitOffsets"),
            "incr.trigger_s": med("triggerExecution"),
            "incr.requests_per_page": c["requests"] / max(c["pages"], 1),
            "incr.jobs_per_batch": median(jobs),
        }


# ---------------------------------------------------------------- gate_suite

# gate -> its operator module behind registry.queries(): one cheap gate
# from each of seven modules, so a cold pass fits one run.
GATES = {
    "stream_tumbling_counts": "extended",
    "q1_pricing_summary": "relational",
    "customer_order_profile": "relational2",
    "event_agg": "events",
    "doc_stats": "text",
    "ivf_ann_topk": "similarity",
    "skew_patterns": "scale_patterns",
}
SF_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED_ROWS = os.path.join(HERE, "data", "gate_rows_sf0.001.json")


class GateSuite:
    """A cold pass over GATES in a fresh session, then warm passes, each
    gate built and written to the noop sink. The seed permutes the gate
    order, the same permutation for every pass."""

    # bench.py's session settings
    SHUFFLE_PARTITIONS = max(len(os.sched_getaffinity(0)), 8)

    def __init__(self, seed: int, work: str, trace: bool):
        self.order = list(GATES)
        random.Random(seed).shuffle(self.order)
        self.gate_s: dict[str, list[float]] = {g: [] for g in GATES}
        self.touches: dict[int, int] = {}  # gate span id -> SESSION_CACHE_TOUCHES delta

    def close(self) -> None:
        pass

    def gate(self, r: Run, name: str) -> None:
        from apache_jira_scraper_spark import io

        t = r.tracer
        touches = io.SESSION_CACHE_TOUCHES
        with t.span(f"gate.{name}") as sp:
            with t.span("gate.build"):
                df = self.qs[name](r.spark, SF_DIR)
            with t.span("gate.exec"):
                df.write.format("noop").mode("overwrite").save()
        self.touches[sp.id] = io.SESSION_CACHE_TOUCHES - touches
        self.gate_s[name].append(sp.s)

    def run(self, r: Run) -> None:
        from apache_jira_scraper_spark import registry

        self.qs = registry.queries()
        for name, mod in GATES.items():
            if self.qs[name].__module__.rsplit(".", 1)[-1] != mod:
                raise RuntimeError(f"gate {name} moved out of module {mod}")
        # bench.py's warm-up: JVM and parquet footers, not session caches
        r.spark.read.parquet(f"{SF_DIR}/region.parquet").count()
        for _ in range(1 + r.steady_ops):
            self._pass(r)
            if r.failed:
                break

    def _pass(self, r: Run) -> None:
        # a pass is timed as one unit; its gates are the counted operations
        t0 = time.perf_counter()
        failed = r.failed
        with r.tracer.span("pass"):
            for name in self.order:
                r.attempt(self.gate, r, name)
        if r.failed == failed:
            r.ops.append(time.perf_counter() - t0)

    def first_and_steady(self, r: Run) -> tuple[float, float]:
        """Sum of gate walls in the cold pass, and the sum over gates of
        each gate's fastest warm wall (bench.py's per-gate minimum: one
        slow gate in one pass does not move it)."""
        cold = sum(v[0] for v in self.gate_s.values())
        return cold, sum(min(v[1:]) for v in self.gate_s.values())

    def check(self, r: Run) -> None:
        with open(EXPECTED_ROWS) as fh:
            want = json.load(fh)
        for name in GATES:
            got = self.qs[name](r.spark, SF_DIR).count()
            r.expect(got == want[name], f"{name}: {got} rows, want {want[name]}")

    def layers(self, r: Run, log: EventLog) -> dict:
        t = r.tracer
        by_span = attribute(t, log)
        passes = t.named("pass")
        out: dict = {}
        for label, p in (("cold", passes[0]), ("warm", passes[-1])):
            gates = [s for s in t.spans if s.parent == p.id]
            builds = [c for g in gates for c in t.spans if c.parent == g.id and c.name == "gate.build"]
            execs = [c for g in gates for c in t.spans if c.parent == g.id and c.name == "gate.exec"]
            build_jobs = [j for b in builds for j in _jobs_under(t, by_span, b)]
            out[f"gates.{label}.build_s"] = sum(b.s for b in builds)
            out[f"gates.{label}.exec_s"] = sum(e.s for e in execs)
            out[f"gates.{label}.build_jobs"] = len(build_jobs)
            out[f"gates.{label}.cache_touches"] = sum(self.touches[g.id] for g in gates)
            out.update(_exec_layers(f"gates.{label}", log, _jobs_under(t, by_span, p)))
            for g in gates:
                out[f"mod.{GATES[g.name[len('gate.') :]]}.{label}_s"] = g.s
        return out


WORKLOADS = {"jira_etl": JiraEtl, "gate_suite": GateSuite}
