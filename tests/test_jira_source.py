"""DataSource tests: parallel paginated scan, pushdowns, retry envelope,
and integration into the extract→flatMap pipeline (SURVEY §2.1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from apache_jira_scraper_spark.operators.extract import extract_issues
from apache_jira_scraper_spark.operators.tasks import issues_to_examples
from apache_jira_scraper_spark.schemas import RAW_ISSUE
from apache_jira_scraper_spark.sources import jira_source
from apache_jira_scraper_spark.sources.mock_jira import MockJira


@pytest.fixture(scope="module")
def registered(spark):
    jira_source.register(spark)
    return spark


def _read(spark, url, **opts):
    reader = spark.read.format("jira").option("base_url", url)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_full_scan_pagination(registered):
    with MockJira({"KAFKA": 123}) as srv:
        df = _read(registered, srv.url, projects="KAFKA", page_size=50)
        rows = df.collect()
        assert len(rows) == 123
        keys = sorted(json.loads(r["payload"])["key"] for r in rows)
        assert keys[0] == "KAFKA-0" and len(set(keys)) == 123
        # probe + 3 pages; the last asks only for the 23 rows left
        pages = [q for q in srv.requests if int(q.get("maxResults", 0)) > 1]
        assert len(pages) == 3
        assert sorted(int(q["startAt"]) for q in pages) == [0, 50, 100]


def test_multi_project_and_filter_pushdown(registered):
    with MockJira({"KAFKA": 60, "SPARK": 40}) as srv:
        df = _read(registered, srv.url, projects="KAFKA,SPARK", page_size=50)
        assert df.count() == 100
        # equality filter on project prunes the other project's requests
        srv.requests.clear()
        only = df.filter(F.col("project") == "SPARK")
        assert only.count() == 40
        jqls = {q["jql"] for q in srv.requests}
        assert all("SPARK" in j for j in jqls), jqls
        assert not any("KAFKA" in j for j in jqls), jqls


def test_field_projection_reaches_wire(registered):
    with MockJira({"KAFKA": 10}) as srv:
        _read(registered, srv.url, projects="KAFKA", fields="summary,status").count()
        assert all(q["fields"] == "summary,status" for q in srv.requests)


def test_retry_on_429_and_500(registered):
    with MockJira({"KAFKA": 10}) as srv:
        srv.fail_once[0] = 429  # probe gets rate-limited once
        srv.fail_once[1] = 500  # first retry hits a 5xx
        df = _read(registered, srv.url, projects="KAFKA", retry_base_s="0.01")
        assert df.count() == 10


def test_non_retryable_4xx_raises(registered):
    with MockJira({"KAFKA": 10}) as srv:
        srv.fail_once[0] = 404
        with pytest.raises(Exception, match="404|Not Found"):
            _read(registered, srv.url, projects="KAFKA").count()


def test_source_to_pipeline_end_to_end(registered):
    """The reference's main.py flow on top of the custom source: scan →
    from_json → extract → flatMap, with per-issue example counts matching
    transform_issue's gate logic."""
    with MockJira({"KAFKA": 37}) as srv:
        raw = _read(registered, srv.url, projects="KAFKA", page_size=10)
        parsed = raw.select(
            "project", F.from_json("payload", RAW_ISSUE).alias("issue")
        ).select("project", "issue.*")
        issues = extract_issues(parsed, base_url=srv.url)
        assert issues.count() == 37
        examples = issues_to_examples(issues)
        by_issue = {
            r["issue_key"]: r["n"]
            for r in examples.groupBy(F.col("metadata.issue_key").alias("issue_key"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # issue 0: resolved w/ 0 comments -> no resolution task; desc="" but
        # comments=0 -> no summarization; assignee None -> no qa3
        # (status/class/qa1/qa2 = 4)
        assert by_issue["KAFKA-0"] == 4
        # issue 1: open, desc, assignee, 1 comment -> 6
        assert by_issue["KAFKA-1"] == 6
        # issue 3: resolved, desc, 3 comments, assignee -> 7
        assert by_issue["KAFKA-3"] == 7


def test_streaming_incremental_offsets(registered, tmp_path):
    """Stream flavor: offsets advance by max_pages_per_trigger, and the
    checkpointed query resumes exactly where it stopped (T1-T3)."""
    with MockJira({"KAFKA": 45}) as srv:
        stream = (
            registered.readStream.format("jira")
            .option("base_url", srv.url)
            .option("projects", "KAFKA")
            .option("page_size", 10)
            .option("max_pages_per_trigger", 2)
            .load()
        )

        out_dir = str(tmp_path / "out")

        def run_one_batch() -> int:
            # Python stream sources fall back to single-batch under
            # availableNow — so each start() = one capped micro-batch, and
            # repeated restarts exercise checkpoint resume end-to-end
            # (memory sink can't recover checkpoints; parquet sink can).
            q = (
                stream.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)
            return registered.read.parquet(out_dir).count()

        # cap = 2 pages × 10 rows per micro-batch; counts are cumulative
        assert run_one_batch() == 20
        assert run_one_batch() == 40
        assert run_one_batch() == 45  # tail
        assert run_one_batch() == 45  # caught up, no duplicates
        # new data lands on the server: resumed stream reads only the delta
        srv.totals["KAFKA"] = 57
        assert run_one_batch() == 57


def test_cloud_clamped_max_results_no_dropped_rows(registered):
    """Jira Cloud contract (VERDICT r03 item 7): the server clamps the
    effective maxResults below the requested page_size (Cloud caps search
    at 100) and echoes the clamp. A fixed-offset stripe walk would fetch
    [0, 200, ...) but receive 100 rows per call and silently drop rows
    100..199 of every stripe; the contiguous cursor walk must return every
    row exactly once."""
    with MockJira({"KAFKA": 230}, clamp=100) as srv:
        df = _read(registered, srv.url, projects="KAFKA", page_size=200)
        keys = [json.loads(r["payload"])["key"] for r in df.collect()]
        assert sorted(keys, key=lambda k: int(k.split("-")[1])) == [
            f"KAFKA-{i}" for i in range(230)
        ]
        assert len(set(keys)) == 230
        # the scan stepped by what it RECEIVED (100), not what it requested
        starts = sorted(
            int(q["startAt"]) for q in srv.requests if int(q.get("maxResults", 0)) > 1
        )
        assert starts == [0, 100, 200]


def test_total_shrinks_mid_scan_terminates_without_duplicates(registered):
    """The advertised total shrinks after the planner's probe (issues
    deleted mid-scan): stripes covering the vanished tail get an empty
    page and end; surviving rows come back exactly once, no hang, no
    duplicates."""
    with MockJira({"KAFKA": 200}) as srv:
        # request 0 is the planner's total probe (sees 200); every data
        # page is served from the shrunken corpus
        srv.totals_after = (1, {"KAFKA": 70})
        df = _read(registered, srv.url, projects="KAFKA", page_size=50)
        keys = [json.loads(r["payload"])["key"] for r in df.collect()]
        assert sorted(keys, key=lambda k: int(k.split("-")[1])) == [
            f"KAFKA-{i}" for i in range(70)
        ]
        assert len(set(keys)) == 70


def test_total_grows_mid_scan_bounded_snapshot(registered):
    """The total grows after the probe: the batch scan returns AT LEAST
    the probed snapshot, never duplicates, and the documented tail
    contract is that rows appended past the planned stripes surface on
    the next scan (at-least-once across scans, bounded snapshot within
    one)."""
    with MockJira({"KAFKA": 100}) as srv:
        srv.totals_after = (1, {"KAFKA": 160})
        df = _read(registered, srv.url, projects="KAFKA", page_size=50)
        keys = [json.loads(r["payload"])["key"] for r in df.collect()]
        nums = sorted(int(k.split("-")[1]) for k in keys)
        assert len(set(keys)) == len(keys)  # no duplicates
        assert set(range(100)) <= set(nums)  # snapshot fully covered
        # a fresh scan (new probe) sees the grown corpus
        df2 = _read(registered, srv.url, projects="KAFKA", page_size=50)
        assert df2.count() == 160


def test_clamping_server_with_lying_echo_no_dropped_rows(registered):
    """A third-party Jira-compatible server that clamps the page but echoes
    the REQUESTED maxResults: the reader may only treat a short page as
    exhaustion when the echo is explicitly below the request, so here it
    must keep stepping contiguously and still return every row."""
    with MockJira({"KAFKA": 230}, clamp=100, lie_echo=True) as srv:
        df = _read(registered, srv.url, projects="KAFKA", page_size=200)
        keys = [json.loads(r["payload"])["key"] for r in df.collect()]
        assert sorted(keys, key=lambda k: int(k.split("-")[1])) == [
            f"KAFKA-{i}" for i in range(230)
        ]
        assert len(set(keys)) == 230
