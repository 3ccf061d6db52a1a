"""Statistics aggregates over the examples table (SURVEY.md §2.4 A1-A6).

The reference's `generate_statistics` (transformer.py:316-357) walks the
examples list with dict-increments and set-adds; here it is one groupBy/agg
program. Spark's HashAggregateExec does partial (map-side) then final
aggregation automatically — the same partial->final rollup main.py:99-110
hand-codes across projects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def summary_statistics(examples: DataFrame) -> DataFrame:
    """One-row summary: COUNT(*) + distinct-value sets (A1, A3).

    collect_set at 100 TB is only sane for low-cardinality columns like
    these enums; for high-cardinality use approx_count_distinct instead.
    Sets are sort_array'd so output is deterministic.
    """
    m = F.col("metadata")
    return examples.agg(
        F.count(F.lit(1)).alias("total_examples"),
        F.sort_array(F.collect_set(m.getField("project"))).alias("projects"),
        F.sort_array(F.collect_set(m.getField("issue_type"))).alias("issue_types"),
        F.sort_array(F.collect_set(m.getField("priority"))).alias("priorities"),
        F.sort_array(F.collect_set(m.getField("status"))).alias("statuses"),
    )


def task_type_distribution(examples: DataFrame) -> DataFrame:
    """Hash-agg counts per task_type + ratio-to-total (A2, A6).

    Ratio uses an empty-frame window (sum over the whole result) — the
    result set is tiny (≤5 task types) so the single-partition window is
    free; the heavy lifting happened in the groupBy. The window already
    put every row in one partition; the result keeps that explicit (one
    partition, sorted locally by task_type), so a sink writes one ordered
    file without a coalesce of its own.
    """
    counts = examples.groupBy("task_type").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return (
        counts.select(
            "task_type",
            "n",
            F.round(F.col("n") * 100.0 / total, 6).alias("pct"),
        )
        .coalesce(1)
        .sortWithinPartitions("task_type")
    )


def combined_statistics(per_project_stats: DataFrame) -> DataFrame:
    """Final rollup across projects (A4; main.py:99-110's SUM)."""
    return per_project_stats.agg(
        F.sum("total_examples").alias("total_examples"),
        F.count(F.lit(1)).alias("projects_processed"),
    )


def merge_corpus(*example_dfs: DataFrame) -> DataFrame:
    """UNION ALL corpus merge (U1; utils.py:159-182 / main.py:92).

    Bag semantics — duplicates preserved, exactly like the reference's
    line-by-line file concatenation.
    """
    if not example_dfs:
        raise ValueError(
            "merge_corpus needs at least one DataFrame (the per-project "
            "list came back empty)"
        )
    out = example_dfs[0]
    for df in example_dfs[1:]:
        out = out.unionByName(df)
    return out
