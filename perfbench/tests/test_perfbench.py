"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import run  # noqa: E402
from endpoint import SearchEndpoint  # noqa: E402
from tracing import Span, Tracer, attribute, parse_event_log, percentile, tail_percentile  # noqa: E402


def test_corpus_is_byte_identical_per_seed():
    a = hashlib.sha256(corpus.render(corpus.make_corpus(5, 2, 200))).hexdigest()
    b = hashlib.sha256(corpus.render(corpus.make_corpus(5, 2, 200))).hexdigest()
    c = hashlib.sha256(corpus.render(corpus.make_corpus(6, 2, 200))).hexdigest()
    assert a == b != c


def test_corpus_draws_its_variety():
    issues = [i for v in corpus.make_corpus(1, 2, 1500).values() for i in v]
    f = [i["fields"] for i in issues]
    assert any(x["description"] is None for x in f)
    assert any(x["assignee"] is None for x in f)
    assert any(x["priority"] is None for x in f)
    assert any(len(x["comment"]["comments"]) == 0 for x in f)
    assert any(len(x["description"] or "") > 20_000 for x in f)
    assert any((x["summary"] or "").startswith("[re-filed]") for x in f)


def _issue(summary="t", description="d", status="Open", assignee="A", comments=("c",)):
    return {
        "fields": {
            "summary": summary,
            "description": description,
            "status": {"name": status},
            "priority": {"name": "Major"},
            "assignee": {"displayName": assignee, "name": None} if assignee else None,
            "comment": {"comments": [{"body": b} for b in comments]},
        }
    }


def test_expected_task_counts_follow_the_flatmap_gates():
    counts = corpus.expected_task_counts(
        [
            _issue(status="Resolved"),  # all 7
            _issue(description=" \n ", comments=(" ",), assignee=None),  # 4: no summ., no qa3
            _issue(summary=None, comments=()),  # summ. + 3 qa
        ]
    )
    assert counts == {
        "summarization": 2,
        "classification": 2,
        "status_prediction": 2,
        "question_answering": 8,
        "issue_resolution": 1,
    }


@pytest.fixture
def endpoint():
    with SearchEndpoint(corpus.make_corpus(2, 2, 230), page_size=50) as ep:
        yield ep


def _get(ep, project, start, n):
    from urllib.request import urlopen

    q = f"jql=project%20%3D%20{project}%20ORDER%20BY%20created%20ASC&startAt={start}&maxResults={n}"
    with urlopen(f"{ep.url}/rest/api/2/search?{q}") as resp:
        return json.loads(resp.read())


def test_endpoint_honours_total_startat_maxresults(endpoint):
    project = next(iter(endpoint.corpus))
    keys = [i["key"] for i in endpoint.corpus[project]]
    probe = _get(endpoint, project, 0, 1)
    assert probe["total"] == 230 and [i["key"] for i in probe["issues"]] == keys[:1]
    page = _get(endpoint, project, 50, 50)
    assert (page["startAt"], page["maxResults"]) == (50, 50)
    assert [i["key"] for i in page["issues"]] == keys[50:100]
    assert [i["key"] for i in _get(endpoint, project, 200, 50)["issues"]] == keys[200:230]
    assert [i["key"] for i in _get(endpoint, project, 7, 13)["issues"]] == keys[7:20]
    assert _get(endpoint, project, 300, 50)["issues"] == []
    endpoint.visible[project] = 100  # growth is advertised through total
    cut = _get(endpoint, project, 100, 50)
    assert cut["total"] == 100 and cut["issues"] == []
    c = endpoint.counters.snapshot()
    assert c["requests"] == 6 and c["probes"] == 1 and c["bytes"] > 0


def test_jira_source_batch_reader_scans_endpoint_exactly_once(endpoint):
    from apache_jira_scraper_spark.sources.jira_source import JiraBatchReader

    reader = JiraBatchReader(
        {"base_url": endpoint.url, "projects": ",".join(endpoint.corpus), "page_size": "50"}
    )
    rows = [row for part in reader.partitions() for row in reader.read(part)]
    keys = [json.loads(payload)["key"] for _, payload in rows]
    want = [i["key"] for v in endpoint.corpus.values() for i in v]
    assert sorted(keys) == sorted(want) and len(set(keys)) == len(want)
    # one total probe per project, then each page once
    c = endpoint.counters.snapshot()
    assert c["probes"] == 2 and c["requests"] == c["probes"] + c["pages"]


@pytest.mark.parametrize(
    "n,want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5 and percentile(xs, 75) == 3.25


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_attribution_on_a_tiny_fixture():
    t = Tracer(sc=None)
    t.spans = [
        Span(0, "etl", None, 100.0, 110.0),
        Span(1, "pipeline.write_zones", 0, 101.0, 109.0),
        Span(2, "layer.scan", None, 120.0, 125.0),
    ]
    plan = (
        "== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (2)\n+- WriteFiles (1)\n\n"
        "(2) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
        "Arguments: file:/w/zones/silver/issues, false, [project#3], Parquet\n"
    )
    acc = lambda run_ms, sw, spill: [  # noqa: E731
        {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
        {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": sw},
        {"Name": "internal.metrics.memoryBytesSpilled", "Value": spill},
        {"Name": "internal.metrics.diskBytesSpilled", "Value": spill},
        {"Name": "number of output rows", "Value": 99},
    ]
    lines = [
        # grouped job under the write span
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 102_000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "pb-1"}}),
        # ungrouped job (a streaming query's own group) inside span 2's interval
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 121_500, "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "some-run-id"}}),
        # outside every span
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 130_000, "Stage IDs": [3],
            "Properties": {}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Accumulables": acc(1500, 10, 0)}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Accumulables": acc(500, 0, 7)}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2, "Accumulables": acc(40, 0, 0)}}),
        _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            executionId=4, time=103_000, physicalPlanDescription=plan),
        _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", executionId=4, time=105_500),
        _ev("SparkListenerTaskEnd"),
    ]
    log = parse_event_log(lines)
    by_span = attribute(t, log)
    assert [j.id for j in by_span[1]] == [0]
    assert [j.id for j in by_span[2]] == [1]
    assert by_span[0] == []
    assert log.stage_totals(by_span[1]) == {"run_ms": 2000, "shuffle_write_b": 10, "spill_b": 14}
    assert log.sql == [{"id": 4, "start": 103.0, "end": 105.5, "path": "file:/w/zones/silver/issues"}]


def test_self_time_subtracts_children_once():
    t = Tracer(sc=None)
    t.spans = [
        Span(0, "a", None, 0.0, 10.0),
        Span(1, "b", 0, 1.0, 4.0),
        Span(2, "c", 0, 3.0, 6.0),  # overlaps b
        Span(3, "d", 1, 1.5, 2.0),  # grandchild: not subtracted from a
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(5.0)
    assert t.self_time(t.spans[1]) == pytest.approx(2.5)


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
