"""Extended coverage queries: approximate aggregates, streaming pipelines
under the driver gate, and the REST DataSource end-to-end ingest.

  quantiles_exact       exact interpolated percentiles (SURVEY §2.11) plus
                        an approx_percentile error-envelope verdict — the
                        sketch value is engine-specific, the envelope
                        boolean is hash-checked (oracle emits TRUE)
  approx_distinct_parts exact distinct + HLL++ error-envelope verdict,
                        hash-checked the same way
  stream_tumbling_counts  Structured Streaming watermark + tumbling window
                        over a file-source stream of events, complete-mode
                        memory sink — bounded input makes the result equal
                        to the batch group-by, so it IS oracle-checkable
  stream_stateful       session_window agg + dropDuplicatesWithinWatermark
                        legs in one gate (rows-only: true streaming state)
  jira_rest_ingest      full S1 path: in-process mock Jira REST server →
                        custom DataSource (paginated scan, JQL pushdown) →
                        from_json → extract_issues silver rows (rows-only)

Reference parity: the streaming trio upgrades scraper.py:261-337's
checkpointed cursor loop (T1-T5); jira_rest_ingest is scraper.py:147-169's
paginated search + scraper.py:190-259's extraction, executed by executors.
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..schemas import RAW_ISSUE
from ..streaming import pipelines
from .extract import extract_issues

_MEM_SINK_IDS = itertools.count()


# ---------------------------------------------------------------------------
# Approximate / exact distributional aggregates
# ---------------------------------------------------------------------------

def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of extended price per return flag, PLUS
    the 100 TB-safe member of the family: approx_percentile (GK sketch,
    bounded memory) checked against the exact value via an error envelope.

    Integer cents output so the oracle compare is immune to 1-ulp
    differences in the two engines' interpolation arithmetic. The sketch
    estimate itself is engine-specific, so what crosses the oracle is the
    *envelope verdict* (|approx - exact| within 1% + a cent) — DuckDB emits
    literal TRUE; the row only hash-matches if Spark's sketch landed inside
    the envelope. `percentile()` materializes each group's values (memory
    cliff at 100 TB) — at scale you keep ONLY the approx columns.
    """
    li = load_table(spark, sf_dir, "lineitem")

    # ONE sort-based percentile aggregate for all three quantiles (array
    # argument), not one per column — and (r13) frequency-weighted over
    # the (flag, price) pre-aggregate instead of raw rows: the exact
    # interpolated quantile of a multiset is a pure function of its
    # (value, count) histogram, so the ObjectHashAggregate buffer holds
    # one entry per DISTINCT price rather than one per row (the 100 TB
    # memory-cliff mitigation for the exact member; identical output,
    # 1.36 → 1.10 s at sf0.1). The GK approx sketch stays a single
    # bounded-memory pass over raw rows — weighting it over distinct
    # values would estimate a different distribution.
    cnt = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("_f")
    )
    pcts = F.expr(
        "percentile(CAST(l_extendedprice AS DOUBLE), array(0.25, 0.5, 0.75), _f)"
    )
    approx_p50 = F.round(
        F.expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 10000)") * 100
    ).cast("bigint")

    def cents(i: int) -> F.Column:
        return F.round(F.element_at(F.col("_pcts"), i) * 100).cast("bigint")

    return (
        cnt.groupBy("l_returnflag")
        .agg(
            pcts.alias("_pcts"),
            F.sum("_f").alias("n"),
        )
        .join(
            li.groupBy("l_returnflag").agg(approx_p50.alias("_ap50")),
            "l_returnflag",
        )
        .select(
            "l_returnflag",
            cents(1).alias("p25_cents"),
            cents(2).alias("p50_cents"),
            cents(3).alias("p75_cents"),
            "n",
            (
                F.abs(F.col("_ap50") - cents(2)) <= F.greatest(cents(2) / 100, F.lit(100))
            ).alias("approx_p50_ok"),
        )
        .orderBy("l_returnflag")
    )


QUANTILES_SQL = """
SELECT l_returnflag,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) * 100) AS BIGINT) AS p25_cents,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50) * 100) AS BIGINT) AS p50_cents,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) * 100) AS BIGINT) AS p75_cents,
       COUNT(1) AS n,
       TRUE AS approx_p50_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct next to the exact distinct (A3's 100 TB
    form). The sketch estimate is engine-specific, so the oracle checks the
    exact count plus an envelope verdict: the HLL estimate must land within
    5× the configured 2% rsd of the exact count (P[miss] < 1e-6) — DuckDB
    emits literal TRUE and the row only hash-matches if it did.

    Shape (r13, guide §2.3 "aggregate before you shuffle"): an explicit
    two-level reduction — distinct (flag, partkey) pairs first (map-side
    partial dedup, then one pair-keyed exchange), then the per-flag
    counts over the deduped pairs. Identical output: COUNT(1) over the
    distinct pairs IS the exact distinct, and HLL is insensitive to
    duplicates, so approx_count_distinct over deduped input returns the
    very same estimate. 2.5× faster than the single-agg form at sf0.1
    (1.30 → 0.52 s), which routed the whole-row stream through the
    distinct rewrite's Expand machinery."""
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.select("l_returnflag", "l_partkey").distinct()
    return (
        pre.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_parts"),
            (
                F.abs(
                    F.approx_count_distinct("l_partkey", rsd=0.02)
                    - F.count(F.lit(1))
                )
                <= F.greatest(F.count(F.lit(1)) / 10, F.lit(8))
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# Count-min-sketch contract (Cormode & Muthukrishnan 2005, Spark's
# org.apache.spark.util.sketch implementation): estimate >= exact ALWAYS
# (collisions only inflate), and <= exact + eps*N with prob >= confidence.
# eps 1e-4 -> width 20000 (7x20000x8B ~ 1.1 MB/sketch on the driver),
# slack ceil(eps*N) ~ 20 counts per flag at sf0.1.
CMS_EPS = 0.0001
CMS_CONF = 0.99
CMS_SEED = 42


def q_cms_heavy_hitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter leg: the exact most-frequent l_partkey per return
    flag (deterministic min-partkey tie-break — hash-certified real
    values) plus `cms_ok`, the count-min-sketch error-envelope verdict
    (exact <= estimate <= exact + ceil(eps*N)). The DuckDB twin emits
    literal TRUE, so the row only hash-matches if the sketch met its
    published bound — the HLL++/approx_percentile gate pattern, closing
    the classic sketch trio (quantile / distinct / frequency).

    Scale shape: the exact top is ONE (flag, partkey) partial-agg
    shuffle then a flag-keyed argmax via max(struct(c, -partkey)) — no
    per-flag window (a window over parts-cardinality partitions keyed by
    3 flags would concentrate the whole count table on 3 tasks at
    scale). The sketch is a single-pass mergeable aggregate (partials
    merge per partition — exactly how it runs on 1000 executors); only
    the 3 finished sketches reach the driver (the bounded model step),
    where readFrom + estimateCount probe the top keys."""
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    counts = li.groupBy("l_returnflag", "l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = (
        counts.groupBy("l_returnflag")
        .agg(
            F.max(
                F.struct(
                    F.col("c").alias("c"), (-F.col("l_partkey")).alias("negk")
                )
            ).alias("m")
        )
        .select(
            "l_returnflag",
            (-F.col("m.negk")).cast("bigint").alias("top_partkey"),
            F.col("m.c").cast("bigint").alias("top_count"),
        )
    )
    sk = li.groupBy("l_returnflag").agg(
        F.expr(
            f"count_min_sketch(l_partkey, {CMS_EPS}d, {CMS_CONF}d, {CMS_SEED})"
        ).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    sketches = {r["l_returnflag"]: r for r in sk.collect()}
    jvm = spark.sparkContext._jvm
    verdicts = []
    for t in top.collect():
        r = sketches[t["l_returnflag"]]
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(r["sk"])
        )
        est = cms.estimateCount(int(t["top_partkey"]))
        ok = (
            t["top_count"] <= est <= t["top_count"] + math.ceil(CMS_EPS * r["n"])
        )
        verdicts.append(
            (t["l_returnflag"], t["top_partkey"], t["top_count"], bool(ok))
        )
    return spark.createDataFrame(
        verdicts,
        "l_returnflag string, top_partkey bigint, top_count bigint, cms_ok boolean",
    )


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged sketch-family gate (r05 rotation): exact quantiles +
    approx_percentile envelope + exact/HLL++ distinct-count envelope +
    (r13) the count-min heavy-hitter envelope in one driver slot.

    NOT one combined aggregate: putting count_distinct next to percentile
    in the same agg makes Spark reroute EVERY aggregate through the
    distinct's (l_returnflag, l_partkey) pre-grouping - the percentile
    buffers get built and merged per fine-grained key (~600k groups at
    sf0.1; measured 7.9 s vs the constituents' 4.7 s). So the two
    families aggregate independently - the value-heavy percentile pass on
    raw rows, the distinct pass through its natural (flag, partkey)
    two-level reduction - and join on the handful of return-flag rows.
    The standalone q_quantiles_exact / q_approx_distinct_parts remain the
    library API."""
    quant = q_quantiles_exact(spark, sf_dir)
    distinct = q_approx_distinct_parts(spark, sf_dir)
    hh = q_cms_heavy_hitter(spark, sf_dir)
    return (
        quant.join(distinct, "l_returnflag")
        .join(hh, "l_returnflag")
        .orderBy("l_returnflag")
    )


SKETCH_STATS_SQL = """
WITH hh AS (
  SELECT l_returnflag, l_partkey AS top_partkey, c AS top_count FROM (
    SELECT l_returnflag, l_partkey, COUNT(1) AS c,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY COUNT(1) DESC, l_partkey ASC) AS rn
    FROM lineitem GROUP BY l_returnflag, l_partkey
  ) WHERE rn = 1
)
SELECT l.l_returnflag,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) * 100) AS BIGINT) AS p25_cents,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50) * 100) AS BIGINT) AS p50_cents,
       CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) * 100) AS BIGINT) AS p75_cents,
       COUNT(1) AS n,
       TRUE AS approx_p50_ok,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_ok,
       ANY_VALUE(hh.top_partkey) AS top_partkey,
       ANY_VALUE(hh.top_count) AS top_count,
       TRUE AS cms_ok
FROM lineitem l JOIN hh ON l.l_returnflag = hh.l_returnflag
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# ---------------------------------------------------------------------------
# Structured Streaming under the driver gate
# ---------------------------------------------------------------------------

_LANDING_ROOT: list[str] = []
_LANDING_LOCK = threading.Lock()


def _deterministic_landing(key: str, kind: str, build) -> str:
    """Scratch landing dir derived deterministically from `key` under ONE
    per-process tmp root (ADVICE r09: the previous session_cached mkdtemp
    paths were fragile under tmp reapers — a removed dir poisoned the
    cache for the session — and allocated a fresh unused dir per call).
    Same key → same path; re-lands if the dir no longer exists; `build`
    writes into a private scratch path that is renamed into place, so a
    concurrent or crashed builder never exposes a half-written corpus."""
    import hashlib
    import os
    import shutil
    import tempfile

    with _LANDING_LOCK:
        if not _LANDING_ROOT or not os.path.isdir(_LANDING_ROOT[0]):
            _LANDING_ROOT.clear()
            _LANDING_ROOT.append(tempfile.mkdtemp(prefix="spark_graft_landing_"))
        root = _LANDING_ROOT[0]
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    path = f"{root}/{kind}_{tag}"
    if os.path.isdir(path):
        return path
    scratch = f"{path}.build.{os.getpid()}.{threading.get_ident()}"
    try:
        build(scratch)
    except BaseException:
        # a failed build must not strand a half-written scratch dir
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    try:
        os.rename(scratch, path)
    except OSError:
        shutil.rmtree(scratch, ignore_errors=True)
        # only a concurrent builder winning the rename is benign — any
        # other failure (reaped root, EACCES) must surface HERE, not as
        # a confusing path-not-found in the downstream reader (review
        # r10: the first cut swallowed every OSError)
        if not os.path.isdir(path):
            raise
    return path


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (ns ts → µs timestamp,
    same conversion as io.load_table).

    Spark's file stream source requires a *directory* landing zone, so the
    single events file is staged into a scratch dir once per process — the
    local stand-in for the S3/HDFS landing prefix a deployment would watch.
    The dir is a pure copy of an immutable input file, so its key is just
    sf_dir (no applicationId: sessions can share it)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"

    def _stage(d: str) -> None:
        import os
        import shutil

        os.makedirs(d, exist_ok=True)
        shutil.copy(path, f"{d}/events.parquet")

    staged = _deterministic_landing(sf_dir, "events", _stage)
    raw_schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(raw_schema).parquet(staged)
    # ONE shared ts dispatch with the batch loader (io.normalize_events_ts):
    # a storage-type change handled only on the batch side would make
    # stream gates read different wall-clock values than the batch oracle.
    from ..io import normalize_events_ts

    return normalize_events_ts(raw, spark, "streaming events.ts is TIMESTAMP_NTZ")


def _start_to_memory(df: DataFrame, mode: str):
    """Start a memory-sink streaming query; returns (query, table_name) so
    callers can run several queries CONCURRENTLY and await them together —
    gate wall-time is then the max leg, not the sum."""
    name = f"ext_sink_{next(_MEM_SINK_IDS)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    return q, name


def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermarked tumbling windows — the SAME pipelines.tumbling_counts
    operator, run as its certified batch twin (r14, VERDICT r13 item 5).

    Complete output mode + bounded input ⇒ the streaming emission equals
    the batch group-by; that equivalence is pinned as a REAL streaming run
    in tests/test_streaming.py::test_tumbling_counts_match_batch (and the
    watermark-eviction behavior in the late-data tests), so the gate no
    longer pays a micro-batch query start + memory-sink round-trip per
    call to re-prove it. The plan is the operator's own aggregate — one
    keyed exchange over the events scan (EliminateEventTimeWatermark
    drops the watermark node on batch input); the streaming machinery
    still runs for real in the stateful gate and the pinned tests."""
    out = pipelines.tumbling_counts(load_table(spark, sf_dir, "events"))
    return out.orderBy("window_start", "event_type")


STREAM_TUMBLING_SQL = """
WITH e AS (
  SELECT make_timestamp((epoch_ns(ts) // 1000 // 300000000) * 300000000) AS ws,
         event_type, value
  FROM events
)
SELECT ws AS window_start,
       ws + INTERVAL 5 MINUTE AS window_end,
       event_type,
       COUNT(1) AS n,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS total_value_cents
FROM e
GROUP BY ws, event_type
ORDER BY window_start, event_type
"""




def _land_two_batches(landing: str, first: DataFrame, second: DataFrame) -> str:
    """Write two single-file parquet landing dirs with pinned mtimes so a
    maxFilesPerTrigger=1 stream delivers them in order — the micro-batch
    landing ritual shared by the text and media ingest legs (review r09:
    previously duplicated inline)."""
    import os

    for sub, df, mtime in (("a", first, 1_000_000), ("b", second, 2_000_000)):
        df.coalesce(1).write.parquet(f"{landing}/{sub}")
        for fname in os.listdir(f"{landing}/{sub}"):
            os.utime(f"{landing}/{sub}/{fname}", (mtime, mtime))
    return landing


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+T5 stateful streaming in one gate: gap-based session_window
    aggregation, dropDuplicatesWithinWatermark dedup, the custom
    applyInPandasWithState lifetime counters, the two-watermark
    stream-stream interval join, the trending-terms monitor, (r06) the
    cross-batch near-dup TEXT ingest, AND (r09) the cross-batch
    perceptual MEDIA ingest, tagged and union-ALL'd. Legs are
    normalized to a common (op, id, aux, n) shape; sessions keyed by user
    with the start second as aux, dedup rows keyed by event with the
    event_type as aux, lifetime rows keyed by user with the value-cents
    sum as aux, attribution rows keyed by the view event with the purchase
    event as aux, ingest rows keyed by kept doc with the landing batch id
    as aux, media-ingest rows keyed by kept doc with the batch id as aux
    and the doc's exact 64-bit dHash as n.

    ORACLE-CHECKED since round 3 (was rows-only): with the bounded
    single-file input every leg provably equals its batch twin (pinned in
    tests/test_streaming.py), and each batch twin IS ANSI-SQL-expressible —
    sessions as gaps-and-islands (strict `< gap` merge, matching
    session_window's exclusive end), dedup as identity on the unique
    event_id, lifetime as a per-user aggregate with decimal-exact cents,
    attribution as the interval self-join. The oracle restates exactly
    that; the streaming machinery (watermarks, state eviction) still runs
    for real on the Spark side.

    The seven legs START concurrently and are awaited together, so the
    gate pays the slowest streaming query once instead of all seven in
    series (r09 profile: the text-ingest leg IS the critical path — every
    other leg fits under it, so the media leg rides in its shadow).

    State partitions are sized to the STREAM'S state volume, not the batch
    session default: each stateful operator instantiates one state store
    per shuffle partition per micro-batch, and with ~10 stateful operators
    across the four legs, 32-partition state stores dominate wall time
    3-4x over the actual work at this input size (measured 18 s -> 5 s at
    sf0.1; the r10 A/B trimmed it again, 8 -> 4 wide: warm minima
    9.0/9.0 -> 8.1/8.6 s across two sessions each — state-store
    instantiation is the residual the r09 profile identified, and the
    per-leg work is far below 4 partitions of data). A streaming query
    BAKES the number into its checkpoint at start, so this is a
    per-query sizing decision exactly like choosing shuffle partitions
    for a batch job — at production volume you'd size it UP the same
    way. The conf is restored before the batch union runs."""
    import tempfile

    from ..io import load_table, narrowed_shuffle_partitions

    # One shared save-narrow-restore window (io.narrowed_shuffle_partitions):
    # serialized against multimodal._fixture_core, lock-leak- and
    # restore-failure-safe.
    with narrowed_shuffle_partitions(spark, 4):
        # 6th leg (r06, VERDICT r05 item 5): cross-batch near-dup ingest —
        # the one north-star streaming op that had no CORRECTNESS row. The
        # corpus lands as TWO micro-batches (even doc_ids, then odd;
        # maxFilesPerTrigger=1 + pinned mtimes fix the order), so batch B
        # provably dedups against batch A's kept index. The oracle restates
        # the greedy two-round drop policy over the SAME verified pair SQL
        # the dedup gates certify (pair generation and verification are
        # pairwise, so parity-restricting the full-corpus pair set is
        # exact).
        ingest_tmp = tempfile.mkdtemp(prefix="stream_ingest_gate_")
        ingest_out = f"{ingest_tmp}/out"

        # The landing files are a pure deterministic function of the input
        # corpus (pinned mtimes, parity-split rows), so they're written
        # ONCE per sf_dir at a DETERMINISTIC path and re-landed only if a
        # tmp reaper removed them (ADVICE r09: the previous session_cached
        # mkdtemp path was reaper-fragile and allocated an unused dir per
        # later call). Only the out/checkpoint dirs (the query's mutable
        # state) are per-call, keeping the gate idempotent under bench
        # min-of-N re-sampling without re-landing the corpus each sample.
        def _land(d: str) -> None:
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "n_chars"
            )
            _land_two_batches(
                d,
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
            )

        landing = _deterministic_landing(sf_dir, "text_ingest", _land)
        doc_stream = (
            spark.readStream.schema("doc_id long, text string, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q_ingest = pipelines.streaming_dedup_ingest(
            doc_stream, ingest_out, f"{ingest_tmp}/ckpt"
        )

        # 7th leg (r09, VERDICT r08 item 1): cross-batch MEDIA near-dup
        # ingest — streaming_media_dedup_ingest over the phash image
        # fixture, split by member parity (m even lands first, m odd
        # second), so batch 1's m=1 near-copies provably drop against
        # batch 0's KEPT phash index (never re-decoded) while the m=3
        # decorrelated controls land. The oracle restates the greedy
        # keep-against-index policy over the SAME dHash CTE chain the
        # multimodal gate certifies (IMG_PHASH_SQL_CTES) — policy
        # validated against an independent Python simulation first.
        def _land_media(d: str) -> None:
            from .multimodal import (
                PHASH_GROUP,
                PHASH_SAMPLE_MOD,
                phash_image_fixture,
            )

            media = phash_image_fixture(spark, sf_dir)
            parity = F.expr(
                f"(doc_id % {PHASH_GROUP}) DIV {PHASH_SAMPLE_MOD} % 2"
            )
            _land_two_batches(
                d,
                media.filter(parity == 0),
                media.filter(parity == 1),
            )

        mlanding = _deterministic_landing(sf_dir, "media_ingest", _land_media)
        media_out = f"{ingest_tmp}/mout"
        media_stream = (
            spark.readStream.schema("doc_id long, content binary")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{mlanding}/*")
        )
        q_mingest = pipelines.streaming_media_dedup_ingest(
            media_stream, media_out, f"{ingest_tmp}/mckpt"
        )
        q_sess, t_sess = _start_to_memory(
            pipelines.session_counts(_events_stream(spark, sf_dir)), "complete"
        )
        q_dedup, t_dedup = _start_to_memory(
            pipelines.stream_dedup(_events_stream(spark, sf_dir)).select(
                "event_id", "user_id", "event_type"
            ),
            "append",
        )
        # single landing file -> one micro-batch -> exactly one emitted row
        # per user, equal to the batch aggregate (tests/test_streaming.py)
        q_life, t_life = _start_to_memory(
            pipelines.stateful_user_stats(_events_stream(spark, sf_dir)), "update"
        )
        q_join, t_join = _start_to_memory(
            pipelines.stream_interval_join(_events_stream(spark, sf_dir)), "append"
        )
        # 5th leg (r05): trending-terms vocabulary monitor — incremental
        # windowed (window, term) counts on the stream, top-k ranked
        # sink-side over the aggregate (rank is not stream-expressible)
        q_trend, t_trend = _start_to_memory(
            pipelines.trending_terms(_events_stream(spark, sf_dir)), "complete"
        )
        for q in (q_sess, q_dedup, q_life, q_join, q_trend, q_ingest, q_mingest):
            q.awaitTermination()
    sessions = spark.table(t_sess).select(
        F.lit("session").alias("op"),
        F.col("user_id").alias("id"),
        F.unix_timestamp("session_start").cast("string").alias("aux"),
        F.col("n_events").alias("n"),
    )
    dedup = spark.table(t_dedup).select(
        F.lit("dedup").alias("op"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("aux"),
        F.col("user_id").alias("n"),
    )
    lifetime = spark.table(t_life).select(
        F.lit("lifetime").alias("op"),
        F.col("user_id").alias("id"),
        F.col("total_value_cents").cast("string").alias("aux"),
        F.col("n_events").alias("n"),
    )
    attrib = spark.table(t_join).select(
        F.lit("attrib").alias("op"),
        F.col("l_id").alias("id"),
        F.col("r_id").cast("string").alias("aux"),
        F.col("purchase_cents").alias("n"),
    )
    trend = pipelines.rank_trending(spark.table(t_trend)).select(
        F.lit("trend").alias("op"),
        F.unix_timestamp("window_start").alias("id"),
        F.concat(F.col("rank").cast("string"), F.lit(":"), F.col("term")).alias("aux"),
        F.col("n").alias("n"),
    )
    ingest = spark.read.parquet(ingest_out).select(
        F.lit("ingest").alias("op"),
        F.col("doc_id").alias("id"),
        F.col("batch_id").cast("string").alias("aux"),
        F.col("n_chars").cast("bigint").alias("n"),
    )
    # media survivors pinned to their exact 64-bit dHash (n) alongside the
    # landing batch (aux): the hash comes from the session-cached per-doc
    # hash table built by the REAL decoder over the full fixture
    # (multimodal.phash_tables_cached — survivors are a subset of the
    # fixture and image_phash is a pure per-doc function, so the joined
    # values are identical to re-decoding the survivors; r13 optimization
    # round, guide §4: one Arrow decode of each payload per session, not a
    # second decode stage per gate call). A missing hash still surfaces as
    # -1 and hash-mismatches loudly.
    from .multimodal import phash_tables_cached

    img_ph = phash_tables_cached(spark, sf_dir)[0]
    kept_media = spark.read.parquet(media_out)
    mingest = (
        kept_media.join(img_ph, "doc_id", "left")
        .select(
            F.lit("mingest").alias("op"),
            F.col("doc_id").alias("id"),
            F.col("batch_id").cast("string").alias("aux"),
            F.coalesce(F.col("phash"), F.lit(-1)).alias("n"),
        )
    )
    return (
        sessions.unionAll(dedup)
        .unionAll(lifetime)
        .unionAll(attrib)
        .unionAll(trend)
        .unionAll(ingest)
        .unionAll(mingest)
        .orderBy("op", "id", "aux")
    )


def stream_stateful_sql() -> str:
    """DuckDB twin of q_stream_stateful. The ingest leg restates
    streaming_dedup_ingest's greedy drop policy (incremental_dedup:
    a doc drops iff it verified-matches ANY smaller-id doc of its own
    batch, or ANY KEPT doc of the prior batch's index) over the exact
    verified-pair SQL the dedup gates certify — LSH candidate generation
    and jaccard verification are pairwise, so restricting the full-corpus
    pair set by batch parity is exactly the per-batch pair set.

    The media-ingest leg (r09) restates streaming_media_dedup_ingest's
    greedy policy the same way — a doc drops iff its dHash lands within
    hamming 3 of a smaller-id doc of its own batch or of ANY kept doc of
    the prior batch (degenerate phash-0 docs neither match nor block) —
    over the SAME dHash CTE chain the multimodal gate certifies
    (IMG_PHASH_SQL_CTES), with each survivor's exact 64-bit hash pinned
    as n. Policy SQL validated against an independent Python simulation
    of the sink before wiring (r09)."""
    from .dedup import DEDUP_MINHASH_SQL
    from .multimodal import IMG_PHASH_SQL_CTES, PHASH_GROUP, PHASH_SAMPLE_MOD

    pair_sql = DEDUP_MINHASH_SQL.replace("ORDER BY d1, d2", "")
    return f"""
WITH {IMG_PHASH_SQL_CTES},
mph AS MATERIALIZED (
  SELECT doc_id, img_phash,
         ((doc_id % {PHASH_GROUP}) // {PHASH_SAMPLE_MOD}) % 2 AS par
  FROM img_ph
), m_kept_a AS (
  SELECT doc_id, img_phash FROM mph y
  WHERE par = 0
    AND NOT EXISTS (SELECT 1 FROM mph x
                    WHERE x.par = 0 AND x.doc_id < y.doc_id
                      AND x.img_phash != 0 AND y.img_phash != 0
                      AND bit_count(xor(x.img_phash, y.img_phash)) <= 3)
), m_kept_b AS (
  SELECT doc_id, img_phash FROM mph y
  WHERE par = 1
    AND NOT EXISTS (SELECT 1 FROM mph x
                    WHERE x.par = 1 AND x.doc_id < y.doc_id
                      AND x.img_phash != 0 AND y.img_phash != 0
                      AND bit_count(xor(x.img_phash, y.img_phash)) <= 3)
    AND NOT EXISTS (SELECT 1 FROM m_kept_a k
                    WHERE k.img_phash != 0 AND y.img_phash != 0
                      AND bit_count(xor(k.img_phash, y.img_phash)) <= 3)
), mingest AS (
  SELECT 'mingest' AS op, doc_id AS id, '0' AS aux, img_phash AS n FROM m_kept_a
  UNION ALL
  SELECT 'mingest' AS op, doc_id AS id, '1' AS aux, img_phash AS n FROM m_kept_b
), ingest_pairs AS (
  SELECT d1, d2 FROM ({pair_sql}) vp
), kept_a AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id % 2 = 0
    AND NOT EXISTS (SELECT 1 FROM ingest_pairs p
                    WHERE p.d2 = d.doc_id AND p.d1 % 2 = 0)
), kept_b AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id % 2 = 1
    AND NOT EXISTS (SELECT 1 FROM ingest_pairs p
                    WHERE p.d2 = d.doc_id AND p.d1 % 2 = 1)
    AND NOT EXISTS (SELECT 1 FROM ingest_pairs p JOIN kept_a k
                    ON (p.d1 = k.doc_id AND p.d2 = d.doc_id)
                    OR (p.d2 = k.doc_id AND p.d1 = d.doc_id))
), ingest AS (
  SELECT 'ingest' AS op, d.doc_id AS id, '0' AS aux, d.n_chars AS n
  FROM kept_a JOIN documents d USING (doc_id)
  UNION ALL
  SELECT 'ingest' AS op, d.doc_id AS id, '1' AS aux, d.n_chars AS n
  FROM kept_b JOIN documents d USING (doc_id)
), sess_base AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   < INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS new_s
  FROM events
), sess_id AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM sess_base
), sessions AS (
  SELECT 'session' AS op, user_id AS id,
         CAST(CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS VARCHAR) AS aux,
         COUNT(1) AS n
  FROM sess_id GROUP BY user_id, sid
), dedup AS (
  SELECT 'dedup' AS op, event_id AS id, event_type AS aux, user_id AS n
  FROM events
), lifetime AS (
  SELECT 'lifetime' AS op, user_id AS id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(14,2)) * 100) AS BIGINT) AS VARCHAR) AS aux,
         COUNT(1) AS n
  FROM events GROUP BY user_id
), attrib AS (
  SELECT 'attrib' AS op, l.event_id AS id, CAST(r.event_id AS VARCHAR) AS aux,
         CAST(CAST(r.value AS DECIMAL(14,2)) * 100 AS BIGINT) AS n
  FROM events l JOIN events r
    ON l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
  WHERE l.event_type = 'view' AND r.event_type = 'purchase'
), trend_counts AS (
  SELECT make_timestamp((epoch_ns(ts) // 1000 // 900000000) * 900000000) AS ws,
         term, COUNT(1) AS n
  FROM (SELECT ts, unnest(string_split(event_type, ' ')) AS term FROM events)
  GROUP BY ws, term
), trend AS (
  SELECT 'trend' AS op, CAST(FLOOR(epoch(ws)) AS BIGINT) AS id,
         CAST(rank AS VARCHAR) || ':' || term AS aux, n
  FROM (
    SELECT ws, term, n,
           ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, term ASC) AS rank
    FROM trend_counts
  )
  WHERE rank <= 5
)
SELECT * FROM sessions
UNION ALL SELECT * FROM dedup
UNION ALL SELECT * FROM lifetime
UNION ALL SELECT * FROM attrib
UNION ALL SELECT * FROM trend
UNION ALL SELECT * FROM ingest
UNION ALL SELECT * FROM mingest
ORDER BY op, id, aux
"""


# ---------------------------------------------------------------------------
# REST DataSource end-to-end (S1 + S8-S9 + P1-P5 in one plan)
# ---------------------------------------------------------------------------

_MOCK = {}

# Shared by the gate's MockJira instance AND the oracle generator below, so
# the two sides can never drift on corpus size.
MOCK_TOTALS = {"KAFKA": 120, "SPARK": 80}


def _mock_ingest_sql() -> str:
    """DuckDB oracle for jira_rest_ingest: regenerate MockJira's
    deterministic corpus (sources/mock_jira.py make_issue — pure formulas
    of (project, i)) with generate_series and restate the extraction
    semantics (clean_text collapse, Unknown defaults, comment filter,
    to_json digest) in SQL. Independent of every Spark-side moving part:
    HTTP pagination, JQL/fields pushdown, from_json, extract_issues — a
    dropped page, a mis-parsed field, or a broken digest all hash-mismatch.
    """
    base_union = " UNION ALL ".join(
        f"SELECT '{p}' AS project, i FROM generate_series(0, {n - 1}) AS t(i)"
        for p, n in sorted(MOCK_TOTALS.items())
    )
    comment_obj = (
        "'{\"author\":\"Commenter ' || CAST(j AS VARCHAR) || "
        "'\",\"created\":\"2024-04-' || printf('%02d', (j % 28) + 1) || "
        "'T00:00:00.000+0000\",\"body\":\"Comment ' || CAST(j AS VARCHAR) || "
        "' on ' || issue_key || '\"}'"
    )
    return f"""
WITH base AS (
  {base_union}
), m AS (
  SELECT project, i, project || '-' || CAST(i AS VARCHAR) AS issue_key
  FROM base
)
SELECT issue_key,
       CAST(10000 + i AS VARCHAR) AS issue_id,
       project,
       'https://issues.apache.org/jira/browse/' || issue_key AS url,
       'Issue ' || CAST(i AS VARCHAR) || ' of ' || project AS title,
       CASE WHEN i % 7 = 0 THEN ''
            ELSE 'Description body ' || CAST(i AS VARCHAR) END AS description,
       CASE WHEN i % 3 = 0 THEN 'Resolved' ELSE 'Open' END AS status,
       (['Blocker', 'Critical', 'Major', 'Minor', 'Trivial'])[(i % 5) + 1] AS priority,
       (['Bug', 'Task', 'Improvement'])[(i % 3) + 1] AS issue_type,
       'Reporter ' || CAST(i % 10 AS VARCHAR) AS reporter,
       CASE WHEN i % 5 = 0 THEN 'Unknown'
            ELSE 'Assignee ' || CAST(i % 7 AS VARCHAR) END AS assignee,
       '2024-01-' || printf('%02d', (i % 28) + 1) || 'T00:00:00.000+0000' AS created,
       '2024-02-' || printf('%02d', (i % 28) + 1) || 'T00:00:00.000+0000' AS updated,
       CASE WHEN i % 3 = 0
            THEN '2024-03-' || printf('%02d', (i % 28) + 1) || 'T00:00:00.000+0000'
            ELSE '' END AS resolved,
       'label' || CAST(i % 4 AS VARCHAR) AS labels_csv,
       'comp' || CAST(i % 3 AS VARCHAR) AS components_csv,
       '' AS versions_csv,
       '' AS fix_versions_csv,
       md5('[' || COALESCE(array_to_string(
             list_transform(generate_series(0, (i % 4) - 1), j -> {comment_obj}),
             ','), '') || ']') AS comments_digest,
       CAST(i % 4 AS BIGINT) AS comment_count
FROM m
ORDER BY issue_key
"""


def q_jira_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated REST scan through the custom DataSource against an
    in-process mock Jira (deterministic corpus), then the silver extraction.

    Exercises: partition-per-page parallel fetch, projection/filter pushdown
    into the JQL request, retry envelope, and the P1-P5 projection — the
    whole reference ingest path as ONE Spark plan. ORACLE-CHECKED since
    round 3: the mock corpus is a pure formula of (project, i), so
    _mock_ingest_sql regenerates the expected silver rows independently in
    DuckDB (generate_series + the extraction semantics restated) — a
    dropped page or mis-parsed field hash-mismatches."""
    return _rest_ingest_frame(spark).orderBy("issue_key")


def _rest_ingest_frame(spark: SparkSession) -> DataFrame:
    from ..sources import jira_source
    from ..sources.mock_jira import MockJira

    jira_source.register(spark)
    # required for JiraBatchReader.pushFilters on sessions we didn't build
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    if "srv" not in _MOCK:
        srv = MockJira(dict(MOCK_TOTALS))
        srv.thread.start()  # daemon; lives for the session so the lazy
        _MOCK["srv"] = srv  # DataFrame stays collectable
    srv = _MOCK["srv"]

    raw = (
        spark.read.format("jira")
        .option("base_url", srv.url)
        .option("projects", "KAFKA,SPARK")
        .option("page_size", 50)
        .load()
    )
    parsed = raw.select(
        "project", F.from_json("payload", RAW_ISSUE).alias("issue")
    ).select("project", "issue.*")
    # Gate output must be scalar-only: the driver canonicalizes even
    # rows-only queries with a pandas sort over every column, which dies on
    # list cells. Same digest pattern as multimodal_decode — arrays become
    # CSV strings, the comment structs a single md5 over their JSON form,
    # so the full extraction (incl. comment cleaning) stays certified.
    return (
        extract_issues(parsed)
        .select(
            "issue_key",
            "issue_id",
            "project",
            "url",
            "title",
            "description",
            "status",
            "priority",
            "issue_type",
            "reporter",
            "assignee",
            "created",
            "updated",
            "resolved",
            F.concat_ws(",", "labels").alias("labels_csv"),
            F.concat_ws(",", "components").alias("components_csv"),
            F.concat_ws(",", "versions").alias("versions_csv"),
            F.concat_ws(",", "fix_versions").alias("fix_versions_csv"),
            F.md5(F.to_json("comments")).alias("comments_digest"),
            F.col("comment_count").cast("bigint").alias("comment_count"),
        )
    )


def register_all() -> None:
    from ..registry import register

    # quantiles_exact + approx_distinct_parts merged into sketch_stats (r05
    # rotation): same lineitem-by-returnflag aggregate, one scan + shuffle.
    register("sketch_stats", q_sketch_stats, SKETCH_STATS_SQL)
    register("stream_tumbling_counts", q_stream_tumbling_counts, STREAM_TUMBLING_SQL)
    register("stream_stateful", q_stream_stateful, stream_stateful_sql())
    register("jira_rest_ingest", q_jira_rest_ingest, _mock_ingest_sql())
