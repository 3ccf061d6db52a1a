"""End-to-end Jira pipeline: bronze (raw) -> silver (issues) -> gold
(training examples) -> stats, replicating main.py:17-137's dataflow with
zones as Parquet/JSON writes instead of driver-side JSON files.

The reference loops over projects in the driver (main.py:34) and merges at
the end (main.py:92); here `project` is a column, so one run processes every
project and the merge is free. Per-project isolation of failures
(main.py:82-84) becomes row-level: malformed rows project to NULLs rather
than aborting the job.
"""

from __future__ import annotations

from functools import cached_property

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_issues
from .operators.stats import summary_statistics, task_type_distribution
from .operators.tasks import issues_to_examples
from .schemas import RAW_ISSUE


class PipelineResult:
    """The pipeline's frames. Only `issues` (and `raw`) are built up front;
    `examples`, `summary` and `distribution` are derived on first access,
    so a caller that only writes zones never pays their driver-side plan
    construction (hundreds of Column builds and py4j round trips). A
    frame passed to the constructor overrides its derivation."""

    def __init__(
        self,
        issues: DataFrame,
        examples: DataFrame | None = None,
        summary: DataFrame | None = None,
        distribution: DataFrame | None = None,
        raw: DataFrame | None = None,
    ):
        self.issues = issues
        self.raw = raw
        # cached_property is a non-data descriptor: an instance attribute
        # of the same name shadows it, i.e. overrides the derivation
        for name, df in (
            ("examples", examples),
            ("summary", summary),
            ("distribution", distribution),
        ):
            if df is not None:
                setattr(self, name, df)

    @cached_property
    def examples(self) -> DataFrame:
        return issues_to_examples(self.issues)

    @cached_property
    def summary(self) -> DataFrame:
        return summary_statistics(self.examples)

    @cached_property
    def distribution(self) -> DataFrame:
        return task_type_distribution(self.examples)


def read_raw_json(spark: SparkSession, path: str, project: str | None = None) -> DataFrame:
    """S3: JSON-array file source (example_usage.py:57-58) with declared
    schema. A `project` argument TAGS every row at read time (the RAW_ISSUE
    envelope itself has no project field) — without the tag, run_pipeline
    must receive the project explicitly, or extract_issues' F.col("project")
    branch fails on the missing column."""
    df = spark.read.option("multiLine", "true").schema(RAW_ISSUE).json(path)
    if project is not None:
        df = df.withColumn("project", F.lit(project))
    return df


def run_pipeline(raw: DataFrame, project: str | None = None) -> PipelineResult:
    return PipelineResult(issues=extract_issues(raw, project=project), raw=raw)


def write_zones(result: PipelineResult, base_dir: str) -> None:
    """Persist the zones (S5-S7) with the REAL lakehouse zone discipline:
    gold and stats derive from the PERSISTED silver zone, not from the
    original lineage, and a crash mid-write leaves bronze to replay.

    CONTRACT: only `result.raw` and `result.issues` are consumed. The
    `examples`/`summary`/`distribution` fields are deliberately IGNORED and
    recomputed from the persisted silver re-read (that is the zone
    discipline above) — a caller who customized those DataFrames on the
    PipelineResult must write them itself; this function will not reflect
    the customization in gold/stats.

    One source scan per call: `result.raw` is persisted for the bronze
    and silver writes. The bronze write materializes it, and silver's
    `result.issues` lineage (which contains raw's plan) reads the cached
    scan through Spark's cache substitution. Bronze and silver therefore
    hold ONE snapshot of a live source; without the cache, silver would
    re-fetch every REST page and could see rows bronze never had.
    Likewise the gold examples are built once, persisted by the gold
    write, and both stats are computed from that cache. Each persisted
    frame is unpersisted as soon as its writes are done, on success or
    failure (a raw frame the caller had already cached is left as it
    was), so none outlives the call.

      bronze: the raw envelope as parquet (replay/backfill source; the
              reference's pretty-printed JSON array at scraper.py:339-356
              is an anti-pattern at scale)
      silver: issues parquet, partitioned by project
      gold:   training examples as line-delimited JSON
              (transformer.py:298-314's JSONL contract). Partitioned by a
              COPY of task_type ('task=' directories): Spark moves the
              partition column out of the rows, so partitioning on
              task_type itself would strip the field from every JSON line
              and break the reference contract for non-Spark line readers.
              The reference's own downstream workload
              (example_usage.py:196-212) filters by task type, so the scan
              still prunes to one directory.
      stats:  summary + distribution, from the persisted gold examples.
    """
    raw = result.raw
    own_raw = raw is not None and raw.storageLevel == StorageLevel.NONE
    if own_raw:
        raw.persist()
    try:
        if raw is not None:
            raw.write.mode("overwrite").parquet(f"{base_dir}/bronze/raw")
        result.issues.write.mode("overwrite").partitionBy("project").parquet(
            f"{base_dir}/silver/issues"
        )
    finally:
        if own_raw:
            raw.unpersist()
    spark = result.issues.sparkSession
    silver = spark.read.parquet(f"{base_dir}/silver/issues")
    examples = issues_to_examples(silver).persist()
    try:
        (
            examples.withColumn("task", F.col("task_type"))
            .write.mode("overwrite")
            .partitionBy("task")
            .json(f"{base_dir}/gold/examples")
        )
        summary_statistics(examples).coalesce(1).write.mode("overwrite").json(
            f"{base_dir}/stats/summary"
        )
        task_type_distribution(examples).write.mode("overwrite").json(
            f"{base_dir}/stats/distribution"
        )
    finally:
        examples.unpersist()
