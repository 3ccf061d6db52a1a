"""Plan-shape regression tests: the scale contract as assertions.

These freeze the physical-plan properties the engine was designed around
(SURVEY.md §4/§8): predicate pushdown to the scan, broadcast dim joins,
no cartesian fallbacks, bounded shuffle counts, codegen on the hot path.
A correctness-preserving change that breaks one of these is a performance
regression at 100 TB even if every value-hash still matches.
"""

from __future__ import annotations

import pytest

from apache_jira_scraper_spark import registry
from apache_jira_scraper_spark.plans.inspect import (
    assert_broadcast_joins,
    assert_filter_pushed,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_whole_stage_codegen,
    operator_counts,
)

_QS = registry.queries()


def test_q1_pushdown_and_shuffles(spark, sf_dir):
    df = _QS["q1_pricing_summary"](spark, sf_dir)
    assert_filter_pushed(df, "l_shipdate")
    # one shuffle for the aggregation, one for the global sort — nothing else
    assert_max_shuffles(df, 2)
    assert_whole_stage_codegen(df)


def test_q5_broadcasts_every_dim_hint_free(spark, sf_dir):
    """customer/supplier carry NO forced hint (they scale with SF); at test
    SF the planner must still pick broadcast for all five dims on its own —
    proving the hint removal costs nothing where broadcast is correct."""
    df = _QS["q5_local_supplier_volume"](spark, sf_dir)
    assert_filter_pushed(df, "r_name")
    assert_broadcast_joins(df, 5)
    assert_no_cartesian(df)


def test_relational_no_forced_broadcast_on_sf_scaling_tables(spark, sf_dir):
    """With auto-broadcast disabled, the only surviving BroadcastExchanges
    in the relational gates must be the genuinely bounded sides: the fixed
    25-row nation / 5-row region hints in q5, and the LIMIT-10 winners
    table in top_customers. customer/supplier grow linearly with the fact
    tables (billions of rows at the 100 TB design point) — a Broadcast on
    them under threshold=-1 means a forced hint AQE cannot demote snuck
    back in (the r04 verdict's last OOM hazard)."""
    from apache_jira_scraper_spark.plans.inspect import physical_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        expected = {"q3_shipping_priority": 0, "q5_local_supplier_volume": 2,
                    "top_customers": 1, "customer_order_profile": 0}
        for name, n_allowed in expected.items():
            plan = physical_plan(_QS[name](spark, sf_dir), "simple")
            n = plan.count("BroadcastExchange")
            assert n == n_allowed, (name, n, n_allowed, plan[:1500])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_flatmap_pipeline_joins(spark, sf_dir):
    # The broadcast-dim joins live in the issues-synthesis subtree, which
    # the gate query consumes through a localCheckpoint (silver-table
    # materialization) — so assert the join shape on the subtree itself.
    from apache_jira_scraper_spark.operators.pipeline_queries import (
        synthetic_raw_issues,
    )

    src = synthetic_raw_issues(spark, sf_dir)
    # docs dim broadcast twice (orders text + comment text)
    assert_broadcast_joins(src, 2)
    assert_no_cartesian(src)

    df = _QS["jira_flatmap_examples"](spark, sf_dir)
    assert_no_cartesian(df)

    # r14: the gate builds the flatMap per call again (the r13 examples
    # checkpoint held the gate's result grain and was removed); the
    # explode shape assertion below is now literally the gate's plan.
    from apache_jira_scraper_spark.operators.pipeline_queries import (
        _issues,
        issues_to_examples,
    )

    built = issues_to_examples(_issues(spark, sf_dir), include_content=True)
    ops = operator_counts(built)
    assert ops.get("Generate", 0) == 1  # the explode — exactly one


def test_dedup_candidates_are_equi_joins(spark, sf_dir):
    for name in ("dedup_near_pairs", "dedup_simhash"):
        assert_no_cartesian(_QS[name](spark, sf_dir))


def test_topk_uses_take_ordered(spark, sf_dir):
    ops = operator_counts(_QS["top_customers"](spark, sf_dir))
    assert ops.get("TakeOrderedAndProject", 0) == 1, ops


def test_range_join_is_narrow_map(spark, sf_dir):
    """The static-bucket range join must fold to a CASE projection: no join
    node of any kind in the plan (VERDICT r01 item 4)."""
    ops = operator_counts(_QS["range_join"](spark, sf_dir))
    for op in ("BroadcastNestedLoopJoin", "BroadcastHashJoin", "SortMergeJoin",
               "CartesianProduct", "ShuffledHashJoin"):
        assert op not in ops, f"{op} in static range-join plan: {ops}"


def test_range_join_generic_is_bnlj(spark, sf_dir):
    """The generic (non-literal dim) variant keeps the broadcast
    nested-loop shape — broadcast of the bucket side, never cartesian."""
    from pyspark.sql import functions as F

    from apache_jira_scraper_spark.io import load_table
    from apache_jira_scraper_spark.operators.relational import (
        RANGE_BUCKETS,
        range_join_generic,
    )

    events = load_table(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        list(RANGE_BUCKETS), "label string, lo double, hi double"
    )
    df = range_join_generic(events, buckets).groupBy("label").count()
    ops = operator_counts(df)
    assert ops.get("BroadcastNestedLoopJoin", 0) == 1, ops
    assert "CartesianProduct" not in ops


def test_embedding_dedup_is_bucketed_equi_join(spark, sf_dir):
    """(label, sign-LSH-bucket) blocking must surface as an equi-join
    (hash-joinable keys), not a cartesian/BNLJ pair explosion. Pins the
    BUILDER (embedding_cosine_pairs), not the gate: the gate reads the
    session-cached checkpointed pair table (r06), whose plan is just a
    scan of the landed blocks."""
    from apache_jira_scraper_spark.io import load_table
    from apache_jira_scraper_spark.operators.dedup import embedding_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    df = embedding_cosine_pairs(emb)
    ops = operator_counts(df)
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoopJoin" not in ops, ops
    n_equi = ops.get("SortMergeJoin", 0) + ops.get("BroadcastHashJoin", 0) + ops.get(
        "ShuffledHashJoin", 0
    )
    assert n_equi >= 1, ops


def test_semi_anti_join_shapes(spark, sf_dir):
    ops = operator_counts(_QS["semi_anti_join"](spark, sf_dir))
    assert "CartesianProduct" not in ops, ops
    # both legs must appear as genuine semi/anti hash joins
    plan = __import__(
        "apache_jira_scraper_spark.plans.inspect", fromlist=["physical_plan"]
    ).physical_plan(_QS["semi_anti_join"](spark, sf_dir))
    assert "LeftSemi" in plan, plan[:800]
    assert "LeftAnti" in plan, plan[:800]


def test_corpus_build_does_not_broadcast_corpus_sized_sides(spark, sf_dir):
    """With the auto-broadcast threshold disabled, NO join in the corpus
    build may still broadcast: quality/exact_keep are corpus-cardinality
    doc_id sets, and near_dup_losers is bounded only by the near-dup loser
    count — 20-50% of a dup-heavy crawl, the same OOM class. A surviving
    Broadcast under threshold=-1 means a forced F.broadcast hint snuck
    back in; at runtime AQE is free to broadcast any side it MEASURES
    small."""
    from apache_jira_scraper_spark.operators.corpus import build_training_corpus
    from apache_jira_scraper_spark.plans.inspect import physical_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(build_training_corpus(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for line in plan.splitlines():
        if "LeftSemi" in line or "LeftAnti" in line:
            assert "Broadcast" not in line, line
    assert any("LeftAnti" in l for l in plan.splitlines())


def test_dedup_family_does_not_broadcast_corpus_sized_sides(spark, sf_dir):
    """With the auto-broadcast threshold disabled, NO join in the dedup
    family may still broadcast: every side a dedup operator joins —
    candidate pairs, candidate doc sets, per-doc sizes, cluster labels — is
    O(dup_rate * n), i.e. corpus cardinality on the dup-heavy crawls dedup
    exists for. A surviving Broadcast under threshold=-1 means a forced
    F.broadcast hint snuck back in (the round-3 verdict's last
    OOM-at-100TB hazard); AQE remains free at runtime to broadcast any
    side it MEASURES small. Checked on the UNCACHED builders so the whole
    build subtree (not a checkpoint leaf) is in the plan."""
    from apache_jira_scraper_spark.io import scope
    from apache_jira_scraper_spark.operators import dedup
    from apache_jira_scraper_spark.plans.inspect import physical_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with scope():
            sh = dedup.shingle_index(spark, sf_dir)
            pairs = dedup._minhash_pairs_uncached(spark, sf_dir)
            cand = pairs.select("d1", "d2").limit(10)
            plans = {
                "minhash_pairs": physical_plan(pairs, "simple"),
                "verify_jaccard": physical_plan(
                    dedup._verify_jaccard(sh, cand), "simple"
                ),
                "ngram_jaccard": physical_plan(
                    dedup.q_dedup_ngram_jaccard(spark, sf_dir), "simple"
                ),
                "simhash": physical_plan(dedup.q_dedup_simhash(spark, sf_dir), "simple"),
                "embedding_cosine": physical_plan(
                    dedup.q_dedup_embedding_cosine(spark, sf_dir), "simple"
                ),
            }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for name, plan in plans.items():
        assert "BroadcastExchange" not in plan, (name, plan[:1500])


def test_eval_decontamination_broadcasts_eval_side_only(spark, sf_dir):
    """The corpus side must never shuffle by shingle: the eval shingle
    table broadcasts, the only Exchange is the doc_id aggregation."""
    from pyspark.sql import functions as F

    from apache_jira_scraper_spark.io import load_table
    from apache_jira_scraper_spark.operators.corpus import eval_decontamination

    docs = load_table(spark, sf_dir, "documents")
    evals = docs.limit(5).select(F.col("doc_id").alias("eval_id"), "text")
    df = eval_decontamination(docs, evals)
    ops = operator_counts(df)
    assert ops.get("BroadcastHashJoin", 0) == 1, ops
    assert "SortMergeJoin" not in ops and "CartesianProduct" not in ops, ops


def test_repetition_signals_shape(spark, sf_dir):
    """Row-local statistic, row-local plan (r05): the top-bigram fraction
    folds the sorted per-row bigram array, so the plan is a pure narrow
    map — NO explode, NO join, and no shuffle except the presentation
    sort. The pre-r05 corpus-wide (doc_id, bigram) aggregation paid two
    token-cardinality shuffles for a per-doc quantity."""
    from apache_jira_scraper_spark.io import load_table
    from apache_jira_scraper_spark.operators.text import repetition_signals

    df = repetition_signals(load_table(spark, sf_dir, "documents"))
    ops = operator_counts(df)
    assert ops.get("Generate", 0) == 0, ops
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in ops, ops
    # the only Exchange is the ORDER BY doc_id presentation sort
    assert ops.get("Exchange", 0) <= 1, ops


def test_no_cartesian_product_in_any_gate(spark, sf_dir):
    """Sweep every registry query's optimized plan for CartesianProduct /
    unconditioned Join — the class of plan that silently appears when a
    join condition is lost in a refactor. Streaming gates and the live
    REST ingest are excluded (building them EXECUTES streaming queries /
    spins HTTP workers); their shapes are pinned by their own tests.
    BroadcastNestedLoopJoin is allowed only for the documented
    range_join_generic pattern, which is not a registered gate."""
    skip = {"stream_tumbling_counts", "stream_stateful", "jira_rest_ingest"}
    for name, fn in _QS.items():
        if name in skip:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
