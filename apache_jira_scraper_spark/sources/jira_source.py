"""Custom PySpark DataSource for the paginated Jira REST scan
(SURVEY.md §2.1 S1/S8-S10, §4 pushdowns).

The reference (scraper.py:147-169, 288-323) fetches pages of 50 sequentially
in one thread. Here the same wire contract becomes a *parallel* scan:

  - the driver probes `total` once per project (scraper.py:275-276's probe),
    then splits the cursor space into page-sized InputPartitions — every
    executor fetches its own page range concurrently;
  - projection pushdown: only requested fields go in the `fields=` param
    (config.py:68-85's JIRA_FIELDS contract);
  - filter pushdown: `project = X` equality lands in the JQL string
    (scraper.py:159) via the DataSourceReader.pushFilters API;
  - retry/backoff per request: exponential min(base*2^n, 60) capped like
    utils.py:144-156, honoring 429 Retry-After (scraper.py:123-127),
    retrying 5xx and JSON-decode failures (scraper.py:130-145);
  - politeness delay per request (scraper.py:314's sleep, configurable);
  - at-least-once semantics under a mutating source, same contract as the
    reference's startAt cursor (scraper.py:321-322) — documented, not hidden.

Rows are `(project, payload)` where payload is the raw issue JSON — parse
with from_json(RAW_ISSUE) and feed operators.extract. Keeping the source
byte-transparent keeps the REST client trivially testable and leaves schema
enforcement to one place.

Streaming flavor: JiraStreamReader tracks `{project: startAt}` offsets; the
offset/commit log lives in Spark's checkpointLocation (S10's hand-rolled
checkpoint files, replaced wholesale).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    InputPartition,
)

DEFAULT_PAGE_SIZE = 50  # config.py:32
DEFAULT_MAX_RETRIES = 5  # config.py:34
DEFAULT_TIMEOUT_S = 30.0  # config.py:33
# config.py:68-85's projection, the default server-side field list
DEFAULT_FIELDS = (
    "summary,description,status,priority,issuetype,reporter,assignee,"
    "created,updated,resolutiondate,labels,components,versions,fixVersions,comment"
)

SCHEMA = "project string, payload string"


class JiraPagePartition(InputPartition):
    """A stripe of consecutive pages from one project's cursor space: the
    row offsets [start_at, end_at), fetched `max_results` at a time (one
    page when end_at is omitted). One page per partition matches the
    reference's protocol exactly, but at task granularity the
    Python-worker dispatch overhead dominates sub-second page fetches —
    striping k pages per task keeps the same parallel-cursor scan shape
    (this is how production REST scans shard: a worker walks a cursor
    range) with 1/k the task count. The streaming reader keeps
    single-page partitions: its micro-batches are already bounded by
    max_pages_per_trigger."""

    def __init__(
        self, project: str, start_at: int, max_results: int, end_at: int | None = None
    ):
        self.project = project
        self.start_at = start_at
        self.max_results = max_results
        self.end_at = start_at + max_results if end_at is None else end_at


def _fetch_page(
    base_url: str,
    project: str,
    start_at: int,
    max_results: int,
    fields: str,
    max_retries: int,
    retry_base_s: float,
    politeness_s: float,
    timeout_s: float,
) -> dict:
    """GET one search page with the reference's retry envelope."""
    params = urllib.parse.urlencode(
        {
            "jql": f"project = {project} ORDER BY created ASC",
            "startAt": start_at,
            "maxResults": max_results,
            "fields": fields,
        }
    )
    url = f"{base_url}/rest/api/2/search?{params}"
    last_err: Exception | None = None
    for attempt in range(max_retries):
        if politeness_s:
            time.sleep(politeness_s)
        try:
            with urllib.request.urlopen(url, timeout=timeout_s) as resp:
                body = resp.read()
            return json.loads(body)
        except urllib.error.HTTPError as e:
            last_err = e
            if e.code == 429:
                retry_after = float(e.headers.get("Retry-After", "1") or 1)
                time.sleep(min(retry_after, 60.0))
            elif 500 <= e.code < 600:
                time.sleep(min(retry_base_s * (2**attempt), 60.0))
            else:
                raise
        except (json.JSONDecodeError, urllib.error.URLError, OSError) as e:
            last_err = e
            time.sleep(min(retry_base_s * (2**attempt), 60.0))
    raise RuntimeError(f"jira source: {max_retries} retries exhausted for {url}") from last_err


class _Options:
    def __init__(self, options: dict):
        self.base_url = options.get("base_url", "https://issues.apache.org/jira").rstrip("/")
        self.projects = [p.strip() for p in options.get("projects", "KAFKA").split(",") if p.strip()]
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        # batch-scan stripe width: pages fetched sequentially per task
        self.pages_per_partition = int(options.get("pages_per_partition", 8))
        self.fields = options.get("fields", DEFAULT_FIELDS)
        self.max_retries = int(options.get("max_retries", DEFAULT_MAX_RETRIES))
        self.retry_base_s = float(options.get("retry_base_s", 1.0))
        self.politeness_s = float(options.get("politeness_s", 0.0))
        self.timeout_s = float(options.get("timeout_s", DEFAULT_TIMEOUT_S))

    def fetch(self, project: str, start_at: int, max_results: int) -> dict:
        return _fetch_page(
            self.base_url,
            project,
            start_at,
            max_results,
            self.fields,
            self.max_retries,
            self.retry_base_s,
            self.politeness_s,
            self.timeout_s,
        )


def _page_rows(opts: _Options, part: JiraPagePartition) -> Iterator[tuple[str, str]]:
    # CONTIGUOUS cursor walk over the stripe's row range — not fixed
    # page_size offsets. Real Jira servers clamp maxResults below the
    # requested page size (Jira Cloud caps search at 100): a fixed-offset
    # walk that requests 200 but receives 100 then jumps to offset 200
    # silently drops rows 100..199. Advancing by the number of rows
    # actually RECEIVED tiles the stripe with no gaps under any clamp
    # (stripe boundaries themselves are row offsets, so adjacent stripes
    # stay disjoint). A short page under contiguous stepping means the
    # cursor range is genuinely exhausted; an EMPTY page means the total
    # shrank mid-scan (this stripe's tail no longer exists) — both end the
    # stripe. The planner ends the last stripe at the probed total, so no
    # request goes past the last row; rows created after the probe land
    # at offsets past the planned stripes and are picked up by the next
    # incremental scan (bounded-snapshot batch semantics; the streaming
    # reader's cursor covers them).
    cur = part.start_at
    while cur < part.end_at:
        want = min(part.max_results, part.end_at - cur)
        data = opts.fetch(part.project, cur, want)
        issues = data.get("issues", [])
        if not issues:
            break
        for issue in issues:
            yield (part.project, json.dumps(issue))
        cur += len(issues)
        # A short page proves exhaustion ONLY when the server explicitly
        # declared a clamp BELOW the request (echoed maxResults < want)
        # and returned fewer rows than its own clamp. When echo == want
        # the echo might just mirror the request from a server that
        # clamps silently (third-party Jira-compatible APIs do this) —
        # breaking there on a short page would drop the rest of the
        # stripe, so keep stepping contiguously and let the empty tail
        # call end it (lossless under any clamp).
        echo = data.get("maxResults")
        if echo is not None and int(echo) < want and len(issues) < int(echo):
            break


class JiraBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.opts = _Options(options)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """`project = X` narrows the project list (→ the JQL string);
        everything else stays Spark-side."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("project",)
                and isinstance(f.value, str)
                and f.value in self.opts.projects
            ):
                self.opts.projects = [f.value]
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        ps, ppp = self.opts.page_size, self.opts.pages_per_partition
        for project in self.opts.projects:
            probe = self.opts.fetch(project, 0, 1)  # scraper.py:275-276's total probe
            total = int(probe.get("total", 0))
            n_pages_total = -(-total // ps)
            for first_page in range(0, n_pages_total, ppp):
                parts.append(
                    JiraPagePartition(
                        project, first_page * ps, ps, min((first_page + ppp) * ps, total)
                    )
                )
        return parts or [JiraPagePartition(self.opts.projects[0], 0, ps)]

    def read(self, partition: JiraPagePartition) -> Iterator[tuple]:
        return _page_rows(self.opts, partition)


class JiraStreamReader(DataSourceStreamReader):
    """Micro-batch incremental scan: offsets are per-project startAt cursors
    (T1); Spark's checkpointLocation persists them (replaces S10)."""

    def __init__(self, options: dict):
        self.opts = _Options(options)
        self.max_pages_per_trigger = int(options.get("max_pages_per_trigger", 10))
        self._committed: dict[str, int] = {}

    def initialOffset(self) -> dict:
        return {p: 0 for p in self.opts.projects}

    def latestOffset(self) -> dict:
        """Source end per project, capped at max_pages_per_trigger beyond the
        last seen cursor — the admission-control analog of the reference's
        rate limit (S9) and of maxOffsetsPerTrigger."""
        out = {}
        cap = self.max_pages_per_trigger * self.opts.page_size
        for project in self.opts.projects:
            probe = self.opts.fetch(project, 0, 1)
            total = int(probe.get("total", 0))
            out[project] = min(total, self._committed.get(project, 0) + cap)
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for project in self.opts.projects:
            lo = int(start.get(project, 0))
            hi = int(end.get(project, lo))
            self._committed[project] = max(self._committed.get(project, 0), lo)
            for s in range(lo, hi, self.opts.page_size):
                parts.append(
                    JiraPagePartition(project, s, min(self.opts.page_size, hi - s))
                )
        return parts

    def read(self, partition: JiraPagePartition) -> Iterator[tuple]:
        return _page_rows(self.opts, partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint log

    def stop(self) -> None:
        pass


class JiraDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jira"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> JiraBatchReader:
        return JiraBatchReader(self.options)

    def streamReader(self, schema) -> JiraStreamReader:
        return JiraStreamReader(self.options)


def register(spark) -> None:
    # Serialize this module BY VALUE into the data-source pickle: executor
    # Python workers then need no importable copy of the package. Matters
    # when the harness builds its SparkSession before PYTHONPATH is exported
    # (worker env is frozen at JVM launch).
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # older cloudpickle: fall back to by-reference + PYTHONPATH
    spark.dataSource.register(JiraDataSource)
