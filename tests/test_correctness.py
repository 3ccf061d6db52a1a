"""Every registered query with an oracle is cross-checked against DuckDB,
mirroring the driver's t2 gate. Parametrization is automatic: registering a
new query in apache_jira_scraper_spark.registry adds a test case here.

Each gate check also pins the io ownership rule: once the check is done and
the gate wrapper's release() has run, every persistent RDD that appeared
during the gate is the storage of a session-cache entry — nothing the gate
checkpointed or persisted for itself is left to driver GC."""

from __future__ import annotations

import importlib
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame

from apache_jira_scraper_spark import registry
from tests.oracle_utils import assert_matches_oracle, persistent_rdd_ids
from tests.test_cache_inventory import EXPECTED_CACHES

_QUERIES = registry.queries()
_ORACLES = registry.oracle_sql()


def _session_cache_rdd_ids() -> set[int]:
    """The storage RDD of every frame held in an inventoried session
    cache, reached through its analyzed plan as io.free_local_checkpoint
    does. Frame memos (lazy plans) and non-frame values hold none."""
    ids: set[int] = set()

    def walk(value) -> None:
        if isinstance(value, DataFrame):
            try:
                ids.add(value._jdf.queryExecution().analyzed().rdd().id())
            except Exception:
                pass  # not a checkpoint: no storage of its own
        elif isinstance(value, (tuple, list)):
            for v in value:
                walk(v)

    for rel, names in EXPECTED_CACHES.items():
        module = importlib.import_module(
            "apache_jira_scraper_spark." + rel.removesuffix(".py").replace("/", ".")
        )
        for name in names:
            for value in getattr(module, name).values():
                walk(value)
    return ids


@contextmanager
def _leaves_only_session_caches(spark, name: str):
    before = persistent_rdd_ids(spark)
    yield
    _QUERIES[name].release()
    leaked = persistent_rdd_ids(spark) - before
    if leaked:
        leaked -= _session_cache_rdd_ids()
    assert not leaked, f"{name} left persistent RDDs outside the session caches: {leaked}"


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    with _leaves_only_session_caches(spark, name):
        df = _QUERIES[name](spark, sf_dir)
        assert_matches_oracle(df, _ORACLES[name], sf_dir, name=name)


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_query_runs(spark, sf_dir, name):
    with _leaves_only_session_caches(spark, name):
        df = _QUERIES[name](spark, sf_dir)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
