"""End-to-end pipeline test: raw JSON -> issues -> examples -> stats -> zones,
mirroring main.py's full flow (entry point 1) plus the batch re-transform
path (entry point 2, example_usage.py:42-72)."""

from __future__ import annotations

import json

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from apache_jira_scraper_spark.operators.stats import merge_corpus
from apache_jira_scraper_spark.pipeline import read_raw_json, run_pipeline, write_zones
from apache_jira_scraper_spark.plans.inspect import assert_max_shuffles, physical_plan
from apache_jira_scraper_spark.schemas import RAW_ISSUE
from apache_jira_scraper_spark.sources import jira_source
from apache_jira_scraper_spark.sources.mock_jira import MockJira
from tests.fixtures import RAW_ISSUE_FIXTURE


def test_pipeline_end_to_end(spark, tmp_path):
    # two "projects" of raw dumps, like data/raw/{PROJECT}_raw.json
    raw_a = [RAW_ISSUE_FIXTURE]
    issue_b = json.loads(json.dumps(RAW_ISSUE_FIXTURE))
    issue_b["key"] = "OTHER-1"
    issue_b["fields"]["status"] = {"name": "Resolved"}
    raw_b = [issue_b, RAW_ISSUE_FIXTURE]

    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(raw_a))
    pb.write_text(json.dumps(raw_b))

    ra = read_raw_json(spark, str(pa))
    rb = read_raw_json(spark, str(pb))

    res_a = run_pipeline(ra, project="KAFKA")
    res_b = run_pipeline(rb, project="SPARK")

    assert res_a.issues.count() == 1
    assert res_b.issues.count() == 2

    # fixture issue -> 6 examples; resolved variant -> 7 (resolution gate opens)
    assert res_a.examples.count() == 6
    assert res_b.examples.count() == 13

    corpus = merge_corpus(res_a.examples, res_b.examples)
    assert corpus.count() == 19  # UNION ALL: duplicates preserved

    summary = res_b.summary.collect()[0]
    assert summary["total_examples"] == 13
    assert summary["projects"] == ["SPARK"]
    assert summary["statuses"] == ["Open", "Resolved"]

    dist = {r["task_type"]: r for r in res_b.distribution.collect()}
    assert dist["question_answering"]["n"] == 6
    assert abs(dist["question_answering"]["pct"] - 600.0 / 13) < 1e-6
    # one partition in task_type order, no range-partition exchange (the
    # groupBy's and the window's exchanges only), with the rows and pct
    # values the earlier global orderBy gave; write_zones writes it
    # without a coalesce of its own
    assert_max_shuffles(res_b.distribution, 2)
    assert "rangepartitioning" not in physical_plan(res_b.distribution).lower()
    assert res_b.distribution.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in res_b.distribution.collect()] == [
        ("classification", 2, 15.384615),
        ("issue_resolution", 1, 7.692308),
        ("question_answering", 6, 46.153846),
        ("status_prediction", 2, 15.384615),
        ("summarization", 2, 15.384615),
    ]

    out = tmp_path / "zones"
    write_zones(res_b, str(out))
    # bronze zone exists for replay (r04 review: the docstring promised it)
    assert spark.read.parquet(str(out / "bronze/raw")).count() == 2
    issues_back = spark.read.parquet(str(out / "silver/issues"))
    assert issues_back.count() == 2
    examples_back = spark.read.json(str(out / "gold/examples"))
    assert examples_back.count() == 13
    # the 'task' COPY is the partition column: filtering prunes to one
    # directory while task_type stays a field of every JSON line
    assert examples_back.filter("task = 'summarization'").count() == 2
    assert examples_back.filter("task_type = 'summarization'").count() == 2
    assert sorted(examples_back.columns) == sorted(
        res_b.examples.columns + ["task"]
    )
    # JSONL contract for NON-Spark line readers (transformer.py:298-314):
    # every line must carry its task_type - partitioning on task_type
    # itself would strip it from the rows (r04 review)
    import glob as _glob

    line_files = _glob.glob(str(out / "gold/examples/task=*/*.json"))
    assert line_files
    with open(line_files[0]) as fh:
        first = json.loads(fh.readline())
    assert "task_type" in first


def test_write_zones_recomputes_gold_from_persisted_silver(spark, tmp_path):
    """Pins the write_zones CONTRACT (ADVICE r05 / VERDICT r05 item 7):
    only result.raw and result.issues are consumed; caller-customized
    examples/summary/distribution DataFrames are deliberately IGNORED —
    gold and stats derive from the persisted silver re-read (the zone
    discipline: each zone derives from the persisted upstream zone)."""
    p = tmp_path / "raw.json"
    p.write_text(json.dumps([RAW_ISSUE_FIXTURE]))
    res = run_pipeline(read_raw_json(spark, str(p)), project="KAFKA")
    # a caller "customizes" the gold zone on the result object
    tampered = res.examples.limit(0)
    res = type(res)(
        issues=res.issues,
        examples=tampered,
        summary=res.summary,
        distribution=res.distribution,
        raw=res.raw,
    )
    out = tmp_path / "zones"
    write_zones(res, str(out))
    # the customization is NOT reflected: gold was recomputed from silver
    assert spark.read.json(str(out / "gold/examples")).count() == 6
    stats = spark.read.json(str(out / "stats/summary")).collect()[0]
    assert stats["total_examples"] == 6


def test_write_zones_scans_the_source_once(spark, tmp_path):
    """One REST scan feeds bronze AND silver: every (project, startAt)
    page is fetched exactly once (besides the per-project total probes,
    maxResults=1), so both zones hold one snapshot of the source."""
    jira_source.register(spark)
    with MockJira({"KAFKA": 37, "SPARK": 25}) as srv:
        raw = (
            spark.read.format("jira")
            .option("base_url", srv.url)
            .option("projects", "KAFKA,SPARK")
            .option("page_size", 10)
            .load()
        )
        parsed = raw.select(
            "project", F.from_json("payload", RAW_ISSUE).alias("i")
        ).select("project", "i.*")
        out = tmp_path / "zones"
        write_zones(run_pipeline(parsed), str(out))
        pages = [
            (q["jql"].split()[2], int(q["startAt"]))
            for q in srv.requests
            if int(q["maxResults"]) != 1
        ]
    # each stripe's cursor walk stops at the probed total: no request
    # past the last row (startAt 37 / 25)
    assert len(set(pages)) == len(pages), sorted(pages)
    assert set(pages) == {
        ("KAFKA", 0), ("KAFKA", 10), ("KAFKA", 20), ("KAFKA", 30),
        ("SPARK", 0), ("SPARK", 10), ("SPARK", 20),
    }
    bronze = {r["key"] for r in spark.read.parquet(str(out / "bronze/raw")).collect()}
    silver = {
        r["issue_key"]
        for r in spark.read.parquet(str(out / "silver/issues")).collect()
    }
    assert len(bronze) == 62 and bronze == silver


def test_write_zones_frees_its_persisted_frames(spark, tmp_path):
    """write_zones persists the raw scan and the gold examples for its own
    writes only: the session's persistent RDD count returns to its
    baseline after a successful call AND after one whose gold write
    raises (gold is a plain file), and the caller's raw is left uncached."""
    p = tmp_path / "raw.json"
    p.write_text(json.dumps([RAW_ISSUE_FIXTURE]))
    res = run_pipeline(read_raw_json(spark, str(p)), project="KAFKA")
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()

    write_zones(res, str(tmp_path / "ok"))
    assert jsc.getPersistentRDDs().size() == baseline
    assert res.raw.storageLevel == StorageLevel.NONE

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "gold").write_text("not a directory")
    with pytest.raises(Exception):
        write_zones(res, str(bad))
    # the failure came after bronze and silver: the raw cache had landed
    assert spark.read.parquet(str(bad / "silver/issues")).count() == 1
    assert jsc.getPersistentRDDs().size() == baseline
    assert res.raw.storageLevel == StorageLevel.NONE
