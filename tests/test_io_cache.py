"""Directed tests for io.session_cached — the silver-table memoization
every session cache (shingle index, pair tables, phash tables, exact
top-k, issues silver) rides on. Pinned here: memoization per
application, build-once under concurrent first calls (the losers'
checkpoints would leak), re-entrant nested builds, and that a failed
build frees what it had checkpointed and caches nothing."""

from __future__ import annotations

import threading
import time

import pytest

from apache_jira_scraper_spark.io import checkpoint, session_cached
from tests.oracle_utils import persistent_rdd_ids


def test_session_cached_memoizes_and_keys_by_app(spark):
    cache: dict = {}
    builds = []

    def build():
        builds.append(1)
        return object()

    got1 = session_cached(cache, spark, ("k",), build)
    got2 = session_cached(cache, spark, ("k",), build)
    assert got1 is got2 and len(builds) == 1
    # a different extra_key builds separately
    session_cached(cache, spark, ("other",), build)
    assert len(builds) == 2
    # entries from a DEAD application are evicted on the next miss: they
    # reference stopped contexts whose checkpoint blocks are gone
    cache[("dead-app", "stale")] = object()
    session_cached(cache, spark, ("third",), build)
    assert ("dead-app", "stale") not in cache
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in cache)


def test_session_cached_concurrent_first_calls_build_once(spark):
    """Review r09: without the lock, two threads racing a cold cache both
    ran the builder and the losing eager checkpoints leaked. With a slow
    builder and a barrier start, exactly ONE build must run and every
    thread must get the same object."""
    cache: dict = {}
    builds = []
    barrier = threading.Barrier(4)
    results = []

    def build():
        builds.append(1)
        time.sleep(0.3)  # widen the race window
        return object()

    def worker():
        barrier.wait()
        results.append(session_cached(cache, spark, ("race",), build))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1, f"builder ran {len(builds)} times"
    assert len(results) == 4 and all(r is results[0] for r in results)


def test_session_cached_reentrant_builder(spark):
    """Cached builders may consult another session cache (e.g. a pair
    table builder reading the cached embedding projection) — the lock is
    re-entrant, so a nested call from inside a builder must not
    deadlock."""
    outer: dict = {}
    inner: dict = {}

    def build_inner():
        return "inner-value"

    def build_outer():
        return session_cached(inner, spark, ("i",), build_inner) + "+outer"

    assert session_cached(outer, spark, ("o",), build_outer) == "inner-value+outer"
    assert len(inner) == 1 and len(outer) == 1


def test_session_cached_same_key_still_builds_once_per_key(spark):
    """The one build lock keeps build-once per key while two different
    keys race concurrently: exactly one build per key."""
    cache: dict = {}
    builds: list = []
    barrier = threading.Barrier(6)

    def build_for(tag):
        def b():
            builds.append(tag)
            time.sleep(0.2)
            return object()

        return b

    results: dict = {}

    def worker(i):
        tag = "x" if i % 2 == 0 else "y"
        barrier.wait()
        results.setdefault(i, session_cached(cache, spark, (tag,), build_for(tag)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(builds) == ["x", "y"], builds
    xs = [results[i] for i in range(6) if i % 2 == 0]
    ys = [results[i] for i in range(6) if i % 2 == 1]
    assert all(v is xs[0] for v in xs) and all(v is ys[0] for v in ys)


def test_session_cached_failed_build_frees_its_checkpoints(spark):
    """A builder that checkpoints a frame and then raises leaves neither
    the frame's storage nor a cache entry behind: the build scope frees
    what a failed build registered."""
    cache: dict = {}
    built = []

    def build():
        built.append(checkpoint(spark.range(10)))
        raise RuntimeError("later table failed")

    with pytest.raises(RuntimeError, match="later table failed"):
        session_cached(cache, spark, ("fails",), build)
    rdd_id = built[0]._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id not in persistent_rdd_ids(spark)
    assert cache == {}
