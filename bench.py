"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed with the `noop` sink so the full plan runs (scan →
shuffle → agg) without driver-side materialization — the honest measure of
engine throughput rather than collect() serialization.

STDOUT CONTRACT (VERDICT r06 item 1): the driver tail-captures stdout and
parses the single JSON line; the r06 per-gate ``runs`` dispersion record
grew that line past the capture window and the official BENCH_r06.json
recorded ``parsed: null``. Stdout therefore carries ONLY the compact
record (metric/value/unit/queries/sf plus two small scalars/lists); the
full dispersion record goes to stderr AND the ``BENCH_runs.json`` sidecar.
The shape is pinned by ``tests/test_bench_contract.py`` — change both
together.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)
# executor Python workers (custom DataSource, Pandas UDFs) import the package
# via PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = _REPO_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")

from apache_jira_scraper_spark import io as _io
from apache_jira_scraper_spark import registry
from apache_jira_scraper_spark.io import sf_dir_from_env
from apache_jira_scraper_spark.session import get_spark

# Hard bound on the stdout line: the driver's tail capture is 2000 chars
# (BENCH_r06.json's truncated `tail` is exactly 2000) and the line must fit
# in it WHOLE or the head — including the `metric`/`value` fields — is cut
# and `parsed` goes null. The compact 50-gate record measures ~1.5 kB.
STDOUT_LINE_MAX = 1990


def format_stdout_line(
    timings: dict[str, float],
    sf: float | None,
    samples: int,
) -> str:
    """The one driver-parsed stdout line. Compact by contract: no per-gate
    runs lists and no cached-gate list here — both ride stderr and the
    BENCH_runs.json sidecar (ADVICE r06: cache-backed gates' minima may
    time scans of artifacts materialized during sample 1, so round-over-
    round deltas on them are not pure engine deltas; the sidecar's
    ``cached`` list is the honest marker)."""
    total = round(sum(t for t in timings.values() if t > 0), 4)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "samples": samples,
            "sf": sf,
        }
    )
    if len(line) > STDOUT_LINE_MAX:  # refuse to regress BENCH parseability
        raise AssertionError(
            f"bench stdout line {len(line)}B exceeds {STDOUT_LINE_MAX}B — "
            "move any new record to the BENCH_runs.json sidecar"
        )
    return line


def main() -> None:
    sf_dir = sf_dir_from_env()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=max(cpus, 8))

    qs = registry.queries()
    names = sorted(qs)
    # warm the JVM + parquet footer caches once with the cheapest plan
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Min-of-N per gate (VERDICT r05 item 6): the host shows documented
    # ≤4x run-to-run variance and single-sample benches generated false
    # regression alarms two rounds running (rollup_cube r04, bm25/asof
    # r05 — all reproduced at their old times when re-timed in isolation).
    # The per-gate `runs` list is the dispersion record; `value` sums the
    # per-gate minima (steady-state engine cost). A gate whose first run
    # exceeds the cutoff is not re-sampled, bounding total bench wall.
    n_samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    # 45 s: above the heaviest cold first runs (stream_stateful ~12-20 s;
    # text_quality_signals ~19-24 s on the build host — a slower driver
    # host could push that past the old 30 s cutoff, which would record
    # the COLD build as the gate's min instead of resampling to warm) but
    # low enough that a pathological gate can't eat minutes of bench wall.
    # r13 optimization round: raised 45 -> 90 after a measured
    # host-degradation phase pushed stream_stateful's cold sample
    # to 62 s — the cutoff then recorded that one degraded-cold sample as
    # the gate's "min" (the exact failure mode the 30 -> 45 raise fixed,
    # one host-speed class further out). Same methodology — min-of-N with
    # a wall-bound guard — only the guard's threshold moved.
    resample_cutoff_s = 90.0
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    cached: list[str] = []
    for name in names:
        touches_before = _io.SESSION_CACHE_TOUCHES
        runs: list[float] = []
        for _ in range(n_samples):
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 4))
            except Exception as exc:  # one broken query must not zero the bench
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                runs.append(-1.0)
                break
            if runs[-1] > resample_cutoff_s:
                break
        # free the frames the gate's last sample registered, instead of
        # holding every gate's last set until exit
        qs[name].release()
        all_runs[name] = runs
        if _io.SESSION_CACHE_TOUCHES > touches_before:
            cached.append(name)
        # a gate that crashed on ANY sample is broken, full stop — reporting
        # the surviving minimum would read as healthy in a round-over-round
        # comparison of `queries`/`value` (review r06)
        timings[name] = -1.0 if any(t < 0 for t in runs) else min(runs)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # dispersion record: stderr for humans, sidecar for round-over-round
    # comparison (cold first run vs reported min, per ADVICE r06).
    # `cold` (r14, VERDICT r13 item 1): the first-sample wall per gate as a
    # first-class number — what a single-shot job pays, including any
    # session-cache builds the gate triggers; the reported min alone hides
    # that cost on cache-backed gates.
    dispersion = {
        "runs": all_runs,
        "cold": {n: r[0] for n, r in all_runs.items() if r},
        "samples": n_samples,
        "cached": cached,
        "sf": sf,
    }
    print(json.dumps(dispersion), file=sys.stderr)
    try:
        with open(os.path.join(_REPO_DIR, "BENCH_runs.json"), "w") as fh:
            json.dump(dispersion, fh, indent=1)
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)

    print(format_stdout_line(timings, sf, n_samples))


if __name__ == "__main__":
    main()
