"""SparkSession factory.

Local-mode defaults mirror what we'd set on a real cluster where it matters
for plan shape (AQE, shuffle partitions, UTC, Arrow); memory sizing is
local-only. On a 1000-executor cluster the same builder works — only
``master`` and memory knobs change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "apache_jira_scraper_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Scale notes:
      - AQE on: runtime shuffle-coalesce, skew-join splitting, broadcast
        demotion — required at 100 TB where static planning misjudges sizes.
      - shuffle.partitions defaults to cores locally; on a cluster this is
        sized to ~2-3x total cores (or left to AQE's coalescing with a high
        initial value).
      - UTC session timezone pins timestamp semantics to match the DuckDB
        oracle and makes plans reproducible across machines.
    """
    if cpus is None:
        raw_cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
        try:
            cpus = int(raw_cpus or 0) or os.cpu_count() or 4
        except ValueError as exc:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be an integer, got {raw_cpus!r}"
            ) from exc
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scheduler.mode stays FIFO (default), MEASURED r09: FAIR tightened
        # the 7-concurrent-query streaming gate's dispersion ([19.6, 10.0,
        # 11.9] -> [10.9, 9.7, 10.1] at sf0.1) but cost ~6 s across the
        # other 49 gates (two full benches: 63.6/64.1 s FAIR vs 57.8 FIFO)
        # — AQE submits concurrent stages inside single queries, and FAIR
        # round-robins those instead of clearing the critical path. On a
        # multi-tenant cluster FAIR pools are still the right knob; for
        # this single-tenant bench FIFO wins.
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanos and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # required for DataSourceReader.pushFilters (jira source JQL pushdown)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # PySpark 4 captures the Python call site of every DataFrame/Column
        # API call (pyspark.errors.utils._with_origin): per F.* call a
        # getActiveSession, a conf read, a JVM set and clear, and an
        # inspect stack walk. Measured on a 4-core host, one
        # issues_to_examples build makes ~3,600-4,900 py4j round trips
        # with it on and ~1,200-2,200 with it off (steady build 0.46-0.64 s
        # -> 0.36-0.42 s); extract + examples + both stats 0.77 -> 0.42 s.
        # What is lost: the DataFrame call-site context (the Python
        # file:line of the offending call) in analysis and runtime error
        # messages. Re-enable for debugging through extra_conf, which is
        # applied after these defaults; PySpark reads it once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
