"""Window/analytic/as-of operators over the `events` table (SURVEY.md §2.5,
§2.8 json fns, §2.9 batch analogs).

Determinism contract with the DuckDB oracle:
  - Window ordering is by `event_id` alone (a unique total order). Ordering
    by raw `ts` would diverge: the parquet stores nanoseconds, Spark reads
    microseconds, so ts-ties differ between engines.
  - Raw `ts` is never emitted — always unix seconds (floor) or date_trunc,
    both invariant under the ns→µs truncation.
  - Running double sums use DECIMAL(14,2) casts internally (exact,
    association-free — plain doubles would differ because DuckDB's
    segment-tree window aggregation associates differently than Spark's
    running accumulator) and are EMITTED as fixed-point BIGINT cents: the
    driver's pandas bridge hashes DECIMAL differently per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import checkpoint, load_table


def _w():
    return Window.partitionBy("user_id").orderBy("event_id")


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total + row_number (frame-spec aggregate, ranking).

    The running sum is decimal-exact internally and emitted as integer cents
    (values are 2-decimal) — fixed-point BIGINT is stable across the
    driver's pandas bridge where DECIMAL is not.
    """
    ev = load_table(spark, sf_dir, "events")
    w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(F.col("value").cast("decimal(14,2)")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(_w()).alias("rn"),
        (running * 100).cast("bigint").alias("running_value_cents"),
    ).orderBy("event_id")


RUNNING_SUM_SQL = """
SELECT event_id, user_id,
       ROW_NUMBER() OVER w AS rn,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER
            (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 AS BIGINT)
         AS running_value_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
ORDER BY event_id
"""


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytic family in one gate: ranking (row_number), a
    running-sum frame aggregate (decimal-exact, emitted as integer cents —
    see module docstring), lag/lead neighbors, inter-event gap in whole
    seconds, ntile quartile, and first/last_value over the full-partition
    frame — one window spec family, ONE shuffle on user_id (the former
    separate window_running_sum gate rides the same exchange; merged per
    VERDICT r03 gate rotation)."""
    ev = load_table(spark, sf_dir, "events")
    w = _w()
    wr = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = _w().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    secs = F.unix_timestamp("ts")
    running = F.sum(F.col("value").cast("decimal(14,2)")).over(wr)
    gap = secs - F.lag(secs).over(w)
    # sessionize's gaps-and-islands id rides the SAME (user_id, event_id)
    # exchange as every other column here (merged r05: the per-user
    # session rollup gate freed a driver slot; q_sessionize remains the
    # library API with its own oracle in tests/test_events_extra.py)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        (running * 100).cast("bigint").alias("running_value_cents"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        gap.alias("gap_s"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("event_type").over(wf).alias("first_type"),
        F.last("event_type").over(wf).alias("last_type"),
        F.sum(is_new).over(wr).alias("session_id"),
    ).orderBy("event_id")


WINDOW_ANALYTICS_SQL = """
SELECT event_id, user_id, event_type,
       ROW_NUMBER() OVER w AS rn,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER
            (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 AS BIGINT)
         AS running_value_cents,
       LAG(event_type) OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       gap_s,
       NTILE(4) OVER w AS quartile,
       FIRST_VALUE(event_type) OVER wf AS first_type,
       LAST_VALUE(event_type) OVER wf AS last_type,
       CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM (
  SELECT *,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY event_id) AS gap_s
  FROM events
) e
WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
       wf AS (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY event_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 30 min starts a session (lag + cumsum —
    the batch analog of session_window, §2.9 T4)."""
    ev = load_table(spark, sf_dir, "events")
    w = _w()
    secs = F.unix_timestamp("ts")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias(
            "session_id"
        ),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY event_id) AS gap_s
  FROM events
), sessions AS (
  SELECT user_id, event_id,
         SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(1) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


def q_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window, batch form: date_trunc to the hour
    (streaming flavor lives in streaming/pipelines.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("total_value_cents"),
        )
        .orderBy("hour", "event_type")
    )


HOURLY_AGG_SQL = """
SELECT DATE_TRUNC('hour', ts) AS hour, event_type, COUNT(1) AS n,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS total_value_cents
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
ORDER BY hour, event_type
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props string column (§2.8 [X])."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k > 50, 1)).alias("n_large"),
        )
        .orderBy("event_type")
    )


JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                  THEN 1 END) AS n_large
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J5): each purchase matched to the latest signup at-or-
    before it for the same user.

    Spark has no native as-of join; this is the composition route (SURVEY
    §2.3 J5-a): last(ignorenulls) over an ordered running window on the
    unioned stream — one shuffle on user_id, no per-row Python. The
    applyInPandas/merge_asof route only pays off when the two sides have
    wildly different cardinalities.
    """
    ev = load_table(spark, sf_dir, "events")
    w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signup_ts = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("signup_s", F.unix_timestamp(signup_ts))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("purchase_s"),
            "signup_s",
        )
        .orderBy("event_id")
    )


ASOF_JOIN_SQL = """
SELECT event_id, user_id, purchase_s, signup_s
FROM (
  SELECT event_id, user_id, event_type,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS purchase_s,
         CAST(FLOOR(EPOCH(
           LAST_VALUE(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )) AS BIGINT) AS signup_s
  FROM events
) t
WHERE event_type = 'purchase'
ORDER BY event_id
"""


FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def funnel(events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Ordered-funnel conversion: for each step k, how many users completed
    steps 1..k IN ORDER — each step strictly after the user's first
    completion of the previous step (the sequential-min semantics every
    funnel product uses; a later step-1 event never re-opens the funnel).

    Scale shape: ONE user-keyed shuffle. Events filter to the step types
    (pushed to the scan), collect per user as a sorted (ts, event_type)
    array, and a single JVM-side `aggregate` fold walks the array carrying
    (stage, t_last) — advancing on the next step's first event with
    ts > t_last, which over a time-sorted array IS the sequential min. The
    per-step counts then aggregate over USER-cardinality rows, and the
    cumulative/ppm legs run on the k-row step table. Per-user arrays are
    bounded by a user's own event count; for adversarial per-user volumes
    the k-sequential-join form (the oracle's shape) trades k keyed joins
    for unbounded rows — same result, pinned in tests/test_relational_extra.

    Returns (step_idx, step, n_users, conversion_ppm) with conversion_ppm
    relative to step 1.

    Resolution contract: the strictly-after comparison runs at Spark's
    TIMESTAMP resolution (microseconds). Two steps separated only at
    sub-microsecond precision compare EQUAL and do not advance the
    funnel — on legacy nanosecond-storage events a naive oracle that
    sees the ns values would disagree; the twin is only exact on µs (or
    coarser) sources, which is what load_table normalizes to.
    """
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    per_user = (
        events.filter(F.col("event_type").isin(*steps))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
            ).alias("evs")
        )
    )
    init = F.expr("named_struct('stage', 0, 't', CAST(NULL AS TIMESTAMP))")
    advance = lambda acc, e: F.when(  # noqa: E731
        (acc["stage"] < k)
        & (e["event_type"] == F.element_at(steps_arr, acc["stage"] + 1))
        & (acc["t"].isNull() | (e["ts"] > acc["t"])),
        F.struct(
            (acc["stage"] + 1).alias("stage"), e["ts"].alias("t")
        ),
    ).otherwise(acc)
    stages = per_user.select(
        F.aggregate("evs", init, advance)["stage"].alias("stage")
    )
    per_stage = stages.groupBy("stage").agg(F.count(F.lit(1)).alias("_n"))
    # cumulative over the <=k+1-row stage table: users at stage >= idx
    step_rows = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    joined = step_rows.join(
        per_stage, per_stage["stage"] >= step_rows["step_idx"], "left"
    ).groupBy("step_idx", "step").agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_users")
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        joined.withColumn(
            "_first", F.max(F.when(F.col("step_idx") == 1, F.col("n_users"))).over(w_all)
        )
        .select(
            "step_idx",
            "step",
            "n_users",
            # nullif: a corpus where NOBODY completed step 1 yields NULL
            # conversions, not an ANSI divide-by-zero (found by the
            # hypothesis model test); the SQL twin uses the same NULLIF
            F.expr("n_users * 1000000 div nullif(_first, 0)").alias("conversion_ppm"),
        )
        .orderBy("step_idx")
    )


def funnel_sql(steps: tuple[str, ...] = FUNNEL_STEPS, table: str = "events") -> str:
    """DuckDB twin of funnel() in the k-sequential-join form (t_k = min ts
    of step k strictly after t_{k-1}) — provably the same semantics as the
    fold, so the two formulations check each other."""
    ctes = [
        f"u1 AS (SELECT user_id, MIN(ts) AS t FROM {table} "
        f"WHERE event_type = '{steps[0]}' GROUP BY user_id)"
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"u{i + 1} AS (SELECT e.user_id, MIN(e.ts) AS t FROM {table} e "
            f"JOIN u{i} USING (user_id) "
            f"WHERE e.event_type = '{steps[i]}' AND e.ts > u{i}.t GROUP BY e.user_id)"
        )
    counts = " UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{s}' AS step, "
        f"(SELECT COUNT(1) FROM u{i + 1}) AS n_users"
        for i, s in enumerate(steps)
    )
    return f"""
WITH {", ".join(ctes)}, counts AS ({counts})
SELECT CAST(step_idx AS INT) AS step_idx, step, n_users,
       n_users * 1000000
         // NULLIF((SELECT n_users FROM counts WHERE step_idx = 1), 0)
         AS conversion_ppm
FROM counts ORDER BY step_idx
"""


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users cohorted by the week of their FIRST
    `signup` event; for each cohort week and week-age, the share of the
    cohort active (any event) that many weeks later — the standard
    retention triangle next to funnel()'s conversion column.

    Engine-exact arithmetic: weeks come from date_trunc (both engines
    start weeks on Monday) and the age is day-difference of the truncated
    DATES div 7 — integer math on aligned calendar boundaries, immune to
    both engine-specific date_diff('week') semantics and DST (an
    epoch-seconds difference under a non-fixed-offset session timezone
    loses an hour across a transition and truncates a whole week).
    Retention is integer ppm.

    Scale shape: one user-keyed agg for the cohort assignment, one
    (user, week) distinct for activity, a user-keyed join, then the
    (cohort, age) agg — all equi-keyed shuffles; nothing driver-sided.
    Activity strictly before the signup week (age < 0) is excluded.

    Returns (cohort_week date, age_weeks, cohort_size, n_active,
    retention_ppm) — age 0 rows are the cohort's signup-week activity.
    """
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    cohorts = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(week(F.col("ts"))).alias("cw"))
    )
    activity = events.select("user_id", week(F.col("ts")).alias("aw")).distinct()
    aged = (
        activity.join(cohorts, "user_id")
        .select(
            "cw",
            F.expr("datediff(aw, cw) div 7").cast("bigint").alias("age_weeks"),
        )
        .filter(F.col("age_weeks") >= 0)
    )
    per = aged.groupBy("cw", "age_weeks").agg(F.count(F.lit(1)).alias("n_active"))
    sizes = cohorts.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        per.join(sizes, "cw")
        .select(
            F.col("cw").cast("date").alias("cohort_week"),
            "age_weeks",
            "cohort_size",
            "n_active",
            F.expr("n_active * 1000000 div cohort_size").alias("retention_ppm"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw FROM events
), aged AS (
  SELECT c.cw, CAST(date_diff('day', c.cw, a.aw) // 7 AS BIGINT) AS age_weeks
  FROM activity a JOIN cohorts c USING (user_id)
  WHERE a.aw >= c.cw
), per AS (
  SELECT cw, age_weeks, COUNT(1) AS n_active FROM aged GROUP BY cw, age_weeks
), sizes AS (
  SELECT cw, COUNT(1) AS cohort_size FROM cohorts GROUP BY cw
)
SELECT per.cw AS cohort_week, age_weeks, cohort_size, n_active,
       n_active * 1000000 // cohort_size AS retention_ppm
FROM per JOIN sizes USING (cw)
ORDER BY cohort_week, age_weeks
"""


def gap_fill_hourly(events: DataFrame, max_users: int = 50) -> DataFrame:
    """Time-series resample + gap-fill (the hypertable-style rollup Spark
    has no native operator for): per user, an hourly grid from their
    first to their last event, hours with no events carried forward from
    the last observed hourly aggregate.

    Scale shape: one (user, hour) partial-agg shuffle for the observed
    buckets; the grid generates per user from their own (min, max) hour
    span via sequence+explode — grid cardinality is span-hours per user,
    never a cartesian against a global calendar; the forward fill is
    last_value IGNORE NULLS over the user's grid (window keyed by the
    same user partitioning). `max_users` bounds the demo output; pass a
    large value for the full table.

    Emits unix-second bucket edges (the events determinism contract: no
    raw timestamps out). Returns (user_id, bucket_ts, n_events,
    sum_value_cents, filled) where filled marks carried-forward rows.
    """
    hour = F.date_trunc("hour", F.col("ts"))
    observed = (
        events.filter(F.col("user_id") < max_users)
        .groupBy("user_id", hour.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("sum_value_cents"),
        )
    )
    spans = observed.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(observed, ["user_id", "bucket"], "left")
    return (
        joined.select(
            "user_id",
            F.unix_timestamp("bucket").alias("bucket_ts"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value_cents", ignorenulls=True)
            .over(w)
            .alias("sum_value_cents"),
            F.col("n_events").isNull().alias("filled"),
        )
        .orderBy("user_id", "bucket_ts")
    )


def gap_fill_sql(max_users: int = 50) -> str:
    """DuckDB twin of gap_fill_hourly, generated from the same max_users
    (the repo's convention for parameterized ops — a hardcoded constant
    would silently diverge for non-default arguments)."""
    return _GAP_FILL_SQL_TPL.format(max_users=max_users)


_GAP_FILL_SQL_TPL = """
WITH observed AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         COUNT(1) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS sum_value_cents
  FROM events WHERE user_id < {max_users}
  GROUP BY user_id, date_trunc('hour', ts)
), spans AS (
  SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM observed GROUP BY user_id
), grid AS (
  SELECT s.user_id, g.bucket
  FROM spans s, unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS g(bucket)
)
SELECT g.user_id,
       CAST(epoch(g.bucket) AS BIGINT) AS bucket_ts,
       COALESCE(o.n_events, 0) AS n_events,
       LAST_VALUE(o.sum_value_cents IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS sum_value_cents,
       o.n_events IS NULL AS filled
FROM grid g LEFT JOIN observed o USING (user_id, bucket)
ORDER BY user_id, bucket_ts
"""


def q_event_funnel_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion + cohort retention in one union-tagged gate (the
    corpus_assembly convention): generic (leg, k1, k2, n, n2, ppm) columns
    so two different result shapes share a driver slot.

      leg='funnel':    k1=step_idx, k2=step, n=n_users, n2=NULL,
                       ppm=conversion_ppm
      leg='retention': k1=cohort_week, k2=age_weeks, n=n_active,
                       n2=cohort_size, ppm=retention_ppm
    """
    ev = load_table(spark, sf_dir, "events")
    f = funnel(ev).select(
        F.lit("funnel").alias("leg"),
        F.col("step_idx").cast("string").alias("k1"),
        F.col("step").alias("k2"),
        F.col("n_users").alias("n"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("conversion_ppm").alias("ppm"),
    )
    r = retention_cohorts(ev).select(
        F.lit("retention").alias("leg"),
        F.col("cohort_week").cast("string").alias("k1"),
        F.col("age_weeks").cast("string").alias("k2"),
        F.col("n_active").alias("n"),
        F.col("cohort_size").alias("n2"),
        F.col("retention_ppm").alias("ppm"),
    )
    return f.unionByName(r).orderBy("leg", "k1", "k2")


def funnel_retention_sql() -> str:
    """DuckDB twin of q_event_funnel_retention: the same union tagging over
    funnel_sql()'s k-sequential-join form and RETENTION_SQL."""
    return f"""
SELECT 'funnel' AS leg, CAST(step_idx AS VARCHAR) AS k1, step AS k2,
       n_users AS n, CAST(NULL AS BIGINT) AS n2, conversion_ppm AS ppm
FROM ({funnel_sql()}) f
UNION ALL
SELECT 'retention' AS leg, CAST(cohort_week AS VARCHAR) AS k1,
       CAST(age_weeks AS VARCHAR) AS k2, n_active AS n, cohort_size AS n2,
       retention_ppm AS ppm
FROM ({RETENTION_SQL}) r
ORDER BY leg, k1, k2
"""


def q_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hourly gap-fill gate over the events table
    (driver-certified since r04 — the slot freed by the
    customer_order_profile merge)."""
    return gap_fill_hourly(load_table(spark, sf_dir, "events"))


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged scalar-function gate (r05 rotation): the JSON-extraction leg
    (events.props) and the date/interval-arithmetic leg (orders dates),
    union-tagged to (leg, k, s1, n1, n2, n3). Both constituent operators
    stay the library API; merging the two tiny gates frees the slot that
    certifies the skew/salting patterns (scale_patterns.py).

    r11 rotation (VERDICT r10 item 2): a third `argmax` leg certifies
    q_argmax — max_by/min_by over the packed (days, orderkey) composite
    key (relational.py's A5 row, ARGMAX_SQL's twin) — under the driver
    hash; it had been pytest/library-only since r05."""
    from .relational import q_argmax
    from .relational2 import q_date_arithmetic

    zero = F.lit(0).cast("bigint")
    js = q_json_extract(spark, sf_dir).select(
        F.lit("json").alias("leg"),
        F.col("event_type").alias("k"),
        F.lit("").alias("s1"),
        F.col("sum_k").cast("bigint").alias("n1"),
        F.col("n_large").cast("bigint").alias("n2"),
        zero.alias("n3"),
    )
    dt = q_date_arithmetic(spark, sf_dir).select(
        F.lit("date").alias("leg"),
        F.col("month").alias("k"),
        F.col("earliest_due").alias("s1"),
        F.col("n").cast("bigint").alias("n1"),
        F.col("max_day_offset").cast("bigint").alias("n2"),
        F.col("min_unix").cast("bigint").alias("n3"),
    )
    am = q_argmax(spark, sf_dir).select(
        F.lit("argmax").alias("leg"),
        F.col("o_custkey").cast("string").alias("k"),
        F.col("latest_date").cast("string").alias("s1"),
        F.col("latest_order").cast("bigint").alias("n1"),
        F.col("first_order").cast("bigint").alias("n2"),
        zero.alias("n3"),
    )
    return js.unionByName(dt).unionByName(am).orderBy("leg", "k")


def scalar_funcs_sql() -> str:
    from .relational import ARGMAX_SQL
    from .relational2 import DATE_ARITH_SQL

    return f"""
SELECT 'json' AS leg, event_type AS k, '' AS s1,
       CAST(sum_k AS BIGINT) AS n1, CAST(n_large AS BIGINT) AS n2,
       CAST(0 AS BIGINT) AS n3
FROM ({JSON_EXTRACT_SQL})
UNION ALL
SELECT 'date' AS leg, month AS k, earliest_due AS s1,
       CAST(n AS BIGINT), CAST(max_day_offset AS BIGINT), CAST(min_unix AS BIGINT)
FROM ({DATE_ARITH_SQL})
UNION ALL
SELECT 'argmax' AS leg, CAST(o_custkey AS VARCHAR) AS k,
       CAST(latest_date AS VARCHAR) AS s1,
       CAST(latest_order AS BIGINT), CAST(first_order AS BIGINT),
       CAST(0 AS BIGINT)
FROM ({ARGMAX_SQL.replace("ORDER BY o_custkey", "")})
ORDER BY leg, k
"""


def q_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly event aggregation gate. The r05 rotation had merged
    the static-bucket range join into this gate, coercing exact integer
    cents through a shared DOUBLE column (exactness silently degraded past
    2^53 cents per group, and the hash check depended on both engines
    rendering doubles identically — ADVICE r05). r06 re-registers
    range_join as its own gate, so this one keeps cents in a dedicated
    BIGINT column: integer-exact at any SF."""
    return q_hourly_agg(spark, sf_dir).select(
        F.col("event_type").alias("k"),
        F.col("hour"),
        F.col("n").cast("bigint").alias("n"),
        F.col("total_value_cents").cast("bigint").alias("cents"),
    )


def event_agg_sql() -> str:
    return f"""
SELECT event_type AS k, hour, CAST(n AS BIGINT) AS n,
       CAST(total_value_cents AS BIGINT) AS cents
FROM ({HOURLY_AGG_SQL.replace("ORDER BY hour, event_type", "")})
ORDER BY k, hour
"""


INTERVAL_GATE_MAX_USER = 200  # bounds the session-interval pair set at any SF


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate (r05 rotation) for the fact×fact interval-overlap join
    (operators/relational.py interval_overlap_join — bucketed equi-join,
    the form that scales when NEITHER side broadcasts): per-user activity
    spans [min ts, max ts] become intervals; the operator self-joins them
    and must equal DuckDB's native inequality join exactly, each pair
    emitted once. The user_id cap bounds the (dense, everyone-overlaps-
    everyone) pair set at every SF — the gate certifies correctness of the
    bucket/dedup mechanics, while the linear-fan-out scale contract is
    plan-pinned in tests/test_relational_extra.py."""
    from .relational import interval_overlap_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < INTERVAL_GATE_MAX_USER
    )
    # The interval table is bounded (<= INTERVAL_GATE_MAX_USER rows) —
    # checkpoint it so the width probe below and the join's two sides all
    # read the 200 stored rows instead of re-running the events scan+agg
    # (three consumers, one scan). The gate's io scope owns it.
    iv = checkpoint(
        ev.groupBy("user_id")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("start"),
            F.unix_timestamp(F.max("ts")).alias("end"),
        )
        .select(F.col("user_id").alias("id"), "start", "end")
    )
    # r13 optimization (guide §2.5: size the partitioning key to the data,
    # not a constant): these per-user activity spans cover nearly the whole
    # dataset range, so the old fixed 1-hour bucket exploded each interval
    # into ~700 buckets whose candidate pairs the first-bucket filter then
    # discarded (~100x the useful volume; measured 2.6 s vs 0.4 s warm at
    # sf0.1). The width is now derived from the data — the median span, a
    # bounded aggregate over the checkpointed 200-row interval table (the
    # centroid-train bounded-model pattern) — keeping per-interval fan-out
    # O(1) at ANY scale factor or density. Emitted pairs are width-
    # invariant by the operator's first-bucket dedup contract (each
    # overlapping pair appears exactly once for every width; re-verified
    # against the DuckDB inequality-join oracle, which has no width), so
    # the gate's hash is unchanged.
    med = iv.agg(
        F.expr("percentile(end - start, 0.5)").alias("med")
    ).collect()[0]["med"]
    width = max(3600, int(med or 0))
    return (
        interval_overlap_join(iv, iv, bucket_width=width)
        .filter(F.col("a_id") < F.col("b_id"))
        .orderBy("a_id", "b_id")
    )


INTERVAL_OVERLAP_SQL = f"""
WITH iv AS (
  SELECT user_id AS id,
         CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS s,
         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS e
  FROM events WHERE user_id < {INTERVAL_GATE_MAX_USER}
  GROUP BY user_id
)
SELECT x.id AS a_id, y.id AS b_id,
       GREATEST(x.s, y.s) AS overlap_start, LEAST(x.e, y.e) AS overlap_end
FROM iv x JOIN iv y ON x.s <= y.e AND y.s <= x.e AND x.id < y.id
ORDER BY a_id, b_id
"""


def register_all() -> None:
    from ..registry import register

    # window_running_sum is merged into window_analytics (same window
    # family, same user_id exchange) — the freed slot registers the funnel
    # + retention analytics under the driver's hash gate (r04 rotation);
    # q_running_sum stays the library API, pinned by pytest.
    register("event_funnel_retention", q_event_funnel_retention, funnel_retention_sql())
    register("event_gap_fill", q_gap_fill_hourly, gap_fill_sql())
    # sessionize's gaps-and-islands id merged into window_analytics as the
    # per-event session_id column (same user_id exchange, r05 rotation);
    # the per-user rollup q_sessionize stays the library API with oracle
    # parity in tests/test_events_extra.py. The freed slot certifies the
    # fact×fact interval-overlap join.
    register("window_analytics", q_window_analytics, WINDOW_ANALYTICS_SQL)
    register("interval_overlap", q_interval_overlap, INTERVAL_OVERLAP_SQL)
    # event_hourly_agg + range_join merged into event_agg (r05 rotation,
    # both event-scan aggregates); the freed slot certifies
    # incremental_dedup. The standalones stay the library API.
    register("event_agg", q_event_agg, event_agg_sql())
    # json_extract + date_arithmetic merged into scalar_funcs (r05); the
    # freed slot certifies the skew/salting patterns (scale_patterns.py).
    register("scalar_funcs", q_scalar_funcs, scalar_funcs_sql())
    register("asof_join", q_asof_join, ASOF_JOIN_SQL)
