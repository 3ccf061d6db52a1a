"""Local replica of the driver's DuckDB-oracle comparison.

Stricter than the driver (exact cell equality after canonicalization,
including decimal scale and float bits) so that passing here strongly
predicts passing CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import ctypes
import datetime as dt
import math
from decimal import Decimal

import duckdb

from apache_jira_scraper_spark.io import TABLES


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        return cols, rows
    finally:
        con.close()
        _return_freed_heap()


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD the session holds persisted: checkpoints and cached
    frames. Compare specific ids, not counts: the shared session's async
    ContextCleaner may reclaim unrelated RDDs between two snapshots."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _return_freed_heap() -> None:
    """Hand the memory a closed DuckDB connection freed back to the OS.
    glibc keeps freed arena pages mapped: after the text_quality_signals
    oracle (~10.4 GB peak at sf0.001) the test process otherwise stays at
    ~10.4 GB RSS for the rest of the suite (malloc_trim drops it to
    ~90 MB), leaving a 16 GB host too little for the Spark JVM."""
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass  # not glibc: nothing to trim


def run_spark(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def _cv(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cv(x) for x in v) + "]"
    if isinstance(v, dt.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    return f"{type(v).__name__}:{v}"


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cv(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], lines


def assert_matches_oracle(df, sql: str, sf_dir: str, name: str = "?") -> None:
    s_cols, s_rows = run_spark(df)
    o_cols, o_rows = run_oracle(sql, sf_dir)
    sc, sl = canonical(s_cols, s_rows)
    oc, ol = canonical(o_cols, o_rows)
    assert sc == oc, f"{name}: column mismatch spark={sc} oracle={oc}"
    assert len(sl) == len(ol), f"{name}: row count spark={len(sl)} oracle={len(ol)}"
    for i, (a, b) in enumerate(zip(sl, ol)):
        assert a == b, f"{name}: row {i} differs\n  spark:  {a}\n  oracle: {b}"
