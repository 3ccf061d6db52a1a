"""Training-corpus assembly operators: deterministic splits and sequence
packing — the steps that turn a deduplicated document set into model-ready
training data at 100 TB.

Both are pure column algebra (no UDFs, no shuffles beyond the one window
partitioning), with DuckDB-oracle parity pinned in tests/test_corpus.py via
the same comparison the driver gate uses. Since round 3 the family also
holds a driver slot: `corpus_assembly` union-tags the split/pack/
contamination reports into one hash-checked gate (doc_clean_text was folded
into doc_stats to stay at the 50-query cap).

  deterministic_split  hash-based train/val/test assignment — reproducible,
                       stable under corpus growth (a doc's split never
                       changes when other docs are added/removed, unlike
                       row_number()-based splits), no shuffle at all
  deterministic_sample / stratified_sample  hash-gated row sampling with
                       the same stability guarantees plus nesting (the 1%
                       sample is a subset of the 10% sample) and per-stratum
                       rates — the corpus-mixing primitive; df.sample has
                       none of these properties
  mix_corpus / mix_summary  data mixing: per-source rates derived from
                       target weights and a token budget, applied through
                       the same hash gate (stable, nested across budgets)
  pack_sequences       contiguous-fill packing of documents into
                       fixed-token-budget training sequences, sharded so
                       the cumulative-sum window never collapses to a
                       single partition
  chunk_documents      fixed-token windows with overlap per document
                       (chunk-to-max_seq_len) — zero-shuffle explode
  cross_split_contamination  near-dup pairs straddling splits — the
                       post-split eval-integrity check, composed from the
                       session-shared LSH pair table + the split projection
  eval_decontamination n-gram-overlap check of the corpus against an
                       EXTERNAL eval/benchmark set (broadcast eval shingle
                       table; the corpus side never shuffles by shingle)
  remove_boilerplate   drop sentences repeated across > max_df documents
                       and reassemble docs in original order (CCNet-style
                       header/footer/license stripping)
  build_training_corpus  the whole flow composed end-to-end: quality gate →
                       exact dedup → near-dup cluster canonicalization →
                       split → pack, as one DataFrame program
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLIT_PPM = 1_000_000


def _hash_ppm(key, salt: str = "") -> "F.Column":
    """Portable per-row hash in [0, 1e6): first 8 md5 hex chars of the
    (salted) stringified key, mod 1e6. Identical math on the DuckDB side.
    THE one hash gate — split, both samplers, and the mixer must stay
    bit-identical or their nesting/stability contracts desynchronize."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % SPLIT_PPM
    )


def deterministic_split(
    docs: DataFrame,
    key: str = "doc_id",
    train_ppm: int = 900_000,
    val_ppm: int = 50_000,
) -> DataFrame:
    """Assign train/val/test by hashing the document key.

    Scale shape: a narrow projection — no shuffle, no state, no sampling
    seed to coordinate across executors. The assignment is a pure function
    of the key, so reruns, backfills, and incremental corpus growth keep
    every existing document in its original split (the property that
    matters for contamination control; fraction-based `randomSplit` has
    neither determinism nor stability).
    """
    h = _hash_ppm(key)
    return docs.withColumn(
        "split",
        F.when(h < train_ppm, F.lit("train"))
        .when(h < train_ppm + val_ppm, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def deterministic_sample(
    docs: DataFrame, rate_ppm: int, key: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep each row iff hash_ppm(salt || key) < rate_ppm — the sampling
    analog of deterministic_split. Zero shuffle, no RNG seed to coordinate
    across executors, and STABLE: a row's membership never changes when
    other rows are added/removed (Spark's df.sample has neither property —
    its per-partition RNG reshuffles membership on any repartition), and
    two samples at rates r1 < r2 are NESTED (the r1 sample is a subset of
    the r2 sample), which makes scaling-law subset chains consistent.
    ``salt`` decorrelates independent samples drawn at the same rate."""
    return docs.filter(_hash_ppm(key, salt) < rate_ppm)


def stratified_sample(
    docs: DataFrame, rates_ppm: dict[str, int], strata_col: str,
    key: str = "doc_id", salt: str = "", default_ppm: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing primitive
    (e.g. upweight code, downweight crawl): rate_ppm chosen by the value of
    ``strata_col``. The rate table is a literal CASE chain (strata counts
    are human-scale), so the filter stays a zero-shuffle narrow map with
    every deterministic_sample guarantee per stratum."""
    rate = F.lit(default_ppm)
    for value, ppm in sorted(rates_ppm.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(ppm)).otherwise(rate)
    return docs.filter(_hash_ppm(key, salt) < rate)


def mix_corpus(
    docs: DataFrame,
    weights_ppm: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "",
    totals: dict[str, int] | None = None,
) -> DataFrame:
    """Data mixing: sample each source down so the mixture approaches the
    target weights within a total token budget (e.g. 60% web / 30% code /
    10% reference at 10B tokens). The per-source rate is DERIVED FROM THE
    DATA — rate_s = min(1, budget * weight_s / total_tokens_s) — then
    applied with the deterministic hash gate, inheriting every
    deterministic_sample guarantee (stability under growth, nesting across
    budgets: a 1B-token mix is a subset of the 10B mix of the same weights).

    All integer arithmetic (weights as ppm, rates as ppm via integer
    division) so the DuckDB twin reproduces membership bit-for-bit. Plan
    shape: one partial-agg groupBy(source) over (source, n_tokens) for the
    totals — a SOURCES-cardinality result, collected to the driver (the
    model step, bounded by construction like the IVF centroids) where the
    rates are computed with Python arbitrary-precision ints; the filter is
    then a literal CASE + hash gate, a pure narrow map. The corpus never
    shuffles — and budget*weight can't overflow BIGINT the way an
    engine-side product would at frontier budgets (9e12 tokens * 1e6 ppm
    exceeds 2^63; Spark with ANSI off would WRAP silently).

    A source absent from weights_ppm gets rate 0 (dropped). An over-asked
    source (budget*weight > available tokens) caps at 1.0 — the mixture
    then undershoots that weight, which `mix_summary`-style reporting makes
    visible rather than silently re-normalizing.
    """
    if totals is None:
        totals = source_token_totals(docs, source_col)
    rates = {
        src: min(SPLIT_PPM, (budget_tokens * weights_ppm.get(src, 0)) // total)
        for src, total in totals.items()
    }
    rate = F.lit(0)
    for src, ppm in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(ppm)).otherwise(rate)
    return docs.filter(_hash_ppm(key, salt) < rate)


def mix_summary(
    docs: DataFrame,
    weights_ppm: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-source report of a mix_corpus run: kept docs and kept tokens —
    the oracle-checkable face of the mixing operator (kept token mass per
    source ≈ budget * weight, capped by availability)."""
    kept = mix_corpus(docs, weights_ppm, budget_tokens, source_col, key, salt)
    return (
        kept.select(F.col(source_col).alias("source"), F.size(F.split("text", " ")).alias("_nt"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_nt").alias("n_tokens"))
        .orderBy("source")
    )


def mix_summary_sql(
    weights_ppm: dict[str, int],
    budget_tokens: int,
    table: str = "documents",
    salt: str = "",
) -> str:
    """DuckDB twin of mix_summary, generated from the same weights/budget."""
    wcase = (
        "CASE "
        + " ".join(
            f"WHEN source = '{v}' THEN {ppm}" for v, ppm in sorted(weights_ppm.items())
        )
        + " ELSE 0 END"
    )
    return f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {SPLIT_PPM} AS h
  FROM {table}
), rates AS (
  SELECT source,
         CAST(LEAST(CAST({SPLIT_PPM} AS HUGEINT),
                    CAST({budget_tokens} AS HUGEINT) * ({wcase}) // SUM(nt))
              AS BIGINT) AS rate_ppm
  FROM t GROUP BY source
)
SELECT t.source, COUNT(1) AS n_docs, SUM(nt) AS n_tokens
FROM t JOIN rates ON t.source = rates.source
WHERE h < rate_ppm
GROUP BY t.source ORDER BY t.source
"""


def corpus_report(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """Data-card report: the per-release summary a corpus ships with —
    doc/token mass by source, by language, by quality band (2000-bp
    buckets of the shared quality score), plus the grand total, as ONE
    tagged union (section, key, n_docs, n_tokens).

    Scale shape: one narrow projection computes (source, lang, band,
    n_tokens) per doc, and the four sections come from ONE GROUPING SETS
    aggregation over it — a single scan, a single shuffle (a 4-way union
    of groupBys would recompute the tokenize/score projection per leg:
    Spark has no cross-branch subtree reuse, only exchange/subquery
    reuse). An EMPTY corpus yields an empty report in BOTH engines
    (grouping sets emit no rows on empty input; the twin's total leg
    carries a HAVING guard to match). Integer token counts make the
    DuckDB twin (`corpus_report_sql`) exact.
    """
    from .text import quality_score_bp_col

    base = docs.select(
        "source",
        "lang",
        (F.floor(quality_score_bp_col() / 2000) * 2000).cast("bigint").alias("band"),
        F.size(F.split("text", " ")).alias("_nt"),
    )
    g = base.groupingSets(
        [[F.col("source")], [F.col("lang")], [F.col("band")], []],
        F.col("source"),
        F.col("lang"),
        F.col("band"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        # grouping() is only legal inside the aggregation — carry the flags
        # out as columns for the section/key projection below
        F.grouping("source").alias("_gs"),
        F.grouping("lang").alias("_gl"),
        F.grouping("band").alias("_gb"),
    )
    section = (
        F.when(F.col("_gs") == 0, F.lit("source"))
        .when(F.col("_gl") == 0, F.lit("lang"))
        .when(F.col("_gb") == 0, F.lit("quality_band"))
        .otherwise(F.lit("total"))
    )
    # key picked BY SECTION (grouping flags), not coalesce: a NULL data
    # value in source/lang must stay a NULL key, exactly as the twin's
    # GROUP BY renders it
    key = (
        F.when(F.col("_gs") == 0, F.col("source"))
        .when(F.col("_gl") == 0, F.col("lang"))
        .when(F.col("_gb") == 0, F.col("band").cast("string"))
        .otherwise(F.lit("all"))
    )
    # asc_nulls_last: a NULL source/lang stays a NULL key (see above), and
    # Spark's default ascending sort puts NULLs FIRST where the DuckDB
    # twin's ORDER BY puts them LAST — order-sensitive consumers would see
    # the engines diverge on any corpus with a NULL key.
    out = g.select(
        section.alias("section"), key.alias("key"), "n_docs", "n_tokens"
    )
    if not ordered:  # composition callers re-sort after their union
        return out
    return out.orderBy(
        F.col("section").asc_nulls_last(), F.col("key").asc_nulls_last()
    )


_CORPUS_REPORT_SQL_TPL = """
WITH m AS (
  SELECT source, lang, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({stop}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_dist, n_chars
  FROM (SELECT source, lang, n_chars, string_split(text, ' ') AS toks FROM documents) t
), base AS (
  SELECT source, lang, n AS nt,
         CAST(FLOOR((CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 4000 ELSE 0 END
                     + CAST(FLOOR(n_stop * 3000 / n) AS BIGINT)
                     + CAST(FLOOR(n_dist * 3000 / n) AS BIGINT)) / 2000) * 2000 AS BIGINT)
           AS band
  FROM m
)
SELECT 'source' AS section, source AS key, COUNT(1) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM base GROUP BY source
UNION ALL
SELECT 'lang', lang, COUNT(1), CAST(SUM(nt) AS BIGINT) FROM base GROUP BY lang
UNION ALL
SELECT 'quality_band', CAST(band AS VARCHAR), COUNT(1), CAST(SUM(nt) AS BIGINT)
FROM base GROUP BY band
UNION ALL
SELECT 'total', 'all', COUNT(1), CAST(SUM(nt) AS BIGINT) FROM base HAVING COUNT(1) > 0
"""
# body/full split (the _PACK_BODY_SQL convention): the gate twin embeds
# the UNORDERED body next to the domain arm under one outer ORDER BY
_CORPUS_REPORT_ORDER = "ORDER BY section, key\n"


def corpus_report_sql() -> str:
    """DuckDB twin of corpus_report (same quality-score definition via the
    shared stopword list)."""
    from .text import _STOP_SQL

    return _CORPUS_REPORT_SQL_TPL.format(stop=_STOP_SQL) + _CORPUS_REPORT_ORDER


def domain_cards(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Embedding-domain composition section of the data card (r13):
    k-means DOMAIN DISCOVERY over the embedding column — every vector is
    assigned to its exact-discipline IVF cell (ivf.ivf_build_exact, the
    cross-engine-reproducible Lloyd quantizer; k=16 discovered domains)
    and the corpus's doc/token mass is aggregated per domain. This is
    the cluster-composition table a mixing stage (DoReMi-style domain
    weights, cluster-stratified sampling) consumes when the corpus has
    no trustworthy source labels.

    The reference has no embedding surface at all — §2.11 extension
    (north-star "similarity search" family re-used for curation).

    Scale shape: training is ivf_build_exact's bounded driver sample
    (4096 vecs, numpy Lloyd — the PQ/OPQ model-step discipline);
    assignment is a broadcast join of the 16-row centroid table +
    one WindowGroupLimit ranked filter; then ONE doc-keyed equi-join
    onto documents and ONE 16-key aggregate. No all-pairs anything.

    Emits (section='domain', key=cid-as-string, n_docs, n_tokens) —
    corpus_report's exact schema, so the gate unions it as a fifth
    section and the DuckDB twin re-trains the same quantizer via
    ivf_exact_sql_ctes (ivq_ prefix reserved in THIS oracle too).
    """
    from .ivf import ivf_assign_exact, ivf_build_exact

    cents = ivf_build_exact(emb)
    asg = ivf_assign_exact(emb.select("vec_id", "e"), cents, nprobe=1).select(
        F.col("vec_id").alias("doc_id"), "cid"
    )
    return (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("_nt"))
        .join(asg, "doc_id")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_nt").alias("n_tokens"))
        .select(
            F.lit("domain").alias("section"),
            F.col("cid").cast("string").alias("key"),
            "n_docs",
            "n_tokens",
        )
    )


def _domain_cards_sql() -> str:
    """The domain section's oracle arm: re-train the exact quantizer in
    SQL (ivf_exact_sql_ctes — only the CTEs up to the nprobe-1 ivq_asg
    are referenced; the unreferenced non-materialized pair CTE is never
    evaluated) and aggregate doc/token mass per cell."""
    from .ivf import ivf_exact_sql_ctes

    return f"""
WITH {ivf_exact_sql_ctes(nprobe=1)}
SELECT 'domain' AS section, CAST(a.cid AS VARCHAR) AS key,
       COUNT(1) AS n_docs,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
FROM documents d JOIN ivq_asg a ON d.doc_id = a.vec_id
GROUP BY a.cid
"""


def corpus_report_gate_sql() -> str:
    """Gate twin: the four labeled sections' UNORDERED body next to the
    domain arm under one outer ORDER BY (both arms are parenthesized
    WITH...SELECTs — their CTE namespaces don't meet)."""
    from .text import _STOP_SQL

    body = _CORPUS_REPORT_SQL_TPL.format(stop=_STOP_SQL)
    return (
        f"SELECT * FROM (({body}) UNION ALL ({_domain_cards_sql()}))\n"
        + _CORPUS_REPORT_ORDER
    )


def q_corpus_report(spark, sf_dir: str) -> DataFrame:
    """Data-card report gate over the documents table (driver-certified
    since r04 — the slot freed by the returnflag_stats merge). r13 adds
    the fifth section: 'domain' — doc/token mass per DISCOVERED
    embedding domain (exact-IVF k-means cells), certifying the domain
    quantizer + the embeddings⋈documents composition under the same
    hash as the labeled sections."""
    from ..io import load_table
    from .similarity import _emb

    docs = load_table(spark, sf_dir, "documents")
    return (
        corpus_report(docs, ordered=False)
        .unionByName(domain_cards(docs, _emb(spark, sf_dir)))
        .orderBy(
            F.col("section").asc_nulls_last(), F.col("key").asc_nulls_last()
        )
    )


def source_token_totals(docs: DataFrame, source_col: str = "source") -> dict[str, int]:
    """Per-source whitespace-token totals — ONE partial-agg groupBy over
    (source, n_tokens), collected as a SOURCES-cardinality dict (the model
    step, bounded by construction like the IVF centroids)."""
    toks = F.size(F.split("text", " "))
    return {
        r["_src"]: r["_total"]
        for r in (
            docs.select(F.col(source_col).alias("_src"), toks.alias("_nt"))
            .groupBy("_src")
            .agg(F.sum("_nt").alias("_total"))
            .collect()
        )
    }


def temperature_weights(token_totals: dict[str, int], alpha: float = 0.3) -> dict[str, int]:
    """Temperature-based mixture weights, the multilingual-LM sampling rule
    (w_s proportional to p_s^alpha, where p_s is the source's natural token
    share): alpha=1 keeps natural proportions, alpha=0 is uniform, values
    between up-sample the tail sources — the standard knob for keeping
    low-resource sources represented without letting the head dominate.

    Driver-side arithmetic on a SOURCES-cardinality dict (no data pass).
    Returns ppm weights that sum to EXACTLY SPLIT_PPM via largest-remainder
    rounding with a deterministic (remainder, name) tie-break, so a
    downstream mix_corpus/mix_summary_sql twin sees identical integers on
    both engines.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    # Zero-token sources get NO budget: p_s = 0 so w_s = 0 for alpha > 0,
    # and at alpha = 0 Python's 0.0**0 == 1.0 would hand an EMPTY source a
    # full uniform share, silently diluting the ppm budget of the sources
    # that actually have data. Dropping them first also makes total == 0
    # (all sources empty / dict empty) a clean empty-dict return instead of
    # a ZeroDivisionError.
    token_totals = {s: t for s, t in token_totals.items() if t > 0}
    if not token_totals:
        return {}
    total = sum(token_totals.values())
    raw = {s: (t / total) ** alpha for s, t in token_totals.items()}
    z = sum(raw.values())
    shares = {s: v / z * SPLIT_PPM for s, v in raw.items()}
    floors = {s: int(v) for s, v in shares.items()}
    leftover = SPLIT_PPM - sum(floors.values())
    by_remainder = sorted(
        token_totals, key=lambda s: (-(shares[s] - floors[s]), s)
    )
    for s in by_remainder[:leftover]:
        floors[s] += 1
    return floors


def mix_corpus_temperature(
    docs: DataFrame,
    alpha: float,
    budget_tokens: int,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "",
) -> tuple[DataFrame, dict[str, int]]:
    """mix_corpus with weights DERIVED from the data via temperature
    sampling instead of hand-specified targets. Returns (mixed, weights_ppm)
    so callers can feed the derived weights to mix_summary_sql for the
    DuckDB twin. The source-totals aggregation runs ONCE and is shared with
    mix_corpus via its `totals` parameter — one data pass, not two."""
    totals = source_token_totals(docs, source_col)
    weights = temperature_weights(totals, alpha)
    mixed = mix_corpus(
        docs, weights, budget_tokens, source_col, key, salt, totals=totals
    )
    return mixed, weights


def split_counts(docs: DataFrame, key: str = "doc_id", ordered: bool = True) -> DataFrame:
    """Per-split document and character counts — the sanity check run after
    every split assignment. ``ordered=False`` skips the final sort for
    callers that re-sort anyway (the union gate) — Catalyst does not
    eliminate a sort under Union, so leaving it in costs a redundant
    range exchange per leg."""
    out = (
        deterministic_split(docs, key=key)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    return out.orderBy("split") if ordered else out


SPLIT_COUNTS_SQL = """
SELECT CASE
         WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'train'
         WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 950000 THEN 'val'
         ELSE 'test'
       END AS split,
       COUNT(1) AS n_docs,
       SUM(n_chars) AS n_chars
FROM documents
GROUP BY 1
ORDER BY split
"""


N_SHARDS = 64
SEQ_BUDGET_TOKENS = 512


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = SEQ_BUDGET_TOKENS,
    n_shards: int = N_SHARDS,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Contiguous-fill sequence packing: concatenate documents in a
    deterministic order and cut at every `budget_tokens` boundary; a
    document belongs to the sequence where it STARTS (documents that
    straddle a boundary span into the next sequence, as in standard
    concat-and-chunk LLM pretraining).

    Scale shape: the cumulative token sum is a window ORDERED BY doc_id but
    PARTITIONED BY a hash shard — the global-order window that a naive
    implementation uses collapses the whole corpus onto one task. Sharding
    makes packing embarrassingly parallel (each shard packs its own
    sequence space; seq_id = shard * 2^40 + local cut index keeps ids
    globally unique), at the cost of at most one under-filled sequence per
    shard — negligible against shard sizes in the billions of tokens.
    Everything is integer column algebra inside whole-stage codegen.
    """
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(n_shards),
    )
    toks = F.size(F.split("text", " "))
    staged = docs.select(
        "doc_id", *extra_keys, shard.alias("shard"), toks.alias("n_tokens")
    )
    from pyspark.sql import Window

    # extra_keys join the window partitioning (e.g. pack WITHIN each split:
    # a sequence must never straddle train/test) — seq_id stays unique only
    # within an extra_keys value; the sequence identity is (*extra_keys,
    # seq_id).
    w = (
        Window.partitionBy(*extra_keys, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.select(
        "doc_id",
        *extra_keys,
        "shard",
        "n_tokens",
        (F.col("shard") * F.lit(1 << 40) + F.floor((cum - F.col("n_tokens")) / budget_tokens)).alias(
            "seq_id"
        ),
    )


def pack_summary(
    docs: DataFrame,
    budget_tokens: int = SEQ_BUDGET_TOKENS,
    n_shards: int = N_SHARDS,
    ordered: bool = True,
) -> DataFrame:
    """Per-sequence fill report: docs per sequence and tokens STARTING in
    each sequence — the packing-efficiency metric (tokens_started ≈ budget
    everywhere except each shard's tail sequence)."""
    packed = pack_sequences(docs, budget_tokens=budget_tokens, n_shards=n_shards)
    out = packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_started"),
    )
    return out.orderBy("seq_id") if ordered else out


PACK_SUMMARY_SQL = f"""
WITH staged AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % {N_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM staged
)
SELECT shard * {1 << 40} + CAST(FLOOR(CAST(c - n_tokens AS DOUBLE) / {SEQ_BUDGET_TOKENS}) AS BIGINT) AS seq_id,
       COUNT(1) AS n_docs,
       SUM(n_tokens) AS tokens_started
FROM cum
GROUP BY 1
ORDER BY seq_id
"""


# ---------------------------------------------------------------------------
# Contamination check and boilerplate removal
# ---------------------------------------------------------------------------


CHUNK_TOKENS = 128
CHUNK_OVERLAP = 16


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
    text_col: str = "text",
    ordered: bool = True,
) -> DataFrame:
    """Split every document into fixed-token-window chunks with `overlap`
    tokens of context between consecutive windows — the per-document
    complement to pack_sequences (chunking long docs to max_seq_len vs
    packing short docs up to it; real pipelines run chunk-then-pack).

    Pure narrow map + explode: tokenize once, compute the chunk count with
    integer arithmetic, explode a sequence of window indices, slice the
    token array per index. Zero shuffle at any scale; a doc shorter than
    one window emits exactly one (short) chunk. Chunk starts advance by
    stride = chunk_tokens - overlap; the final window is the only one
    allowed to be short, and every token is covered.

    ``ordered=False`` skips the presentation sort (same contract as
    split_counts/pack_summary): the map itself is exchange-free, and a
    composed chunk-then-pack pipeline re-partitions anyway — the global
    (doc_id, chunk_id) sort is a corpus-wide range exchange no downstream
    consumer needs.

    Returns (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    toked = docs.select("doc_id", F.split(text_col, " ").alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    n_chunks = F.when(F.col("n") <= chunk_tokens, F.lit(1)).otherwise(
        (F.col("n") - chunk_tokens + stride - 1) / stride + 1
    ).cast("int")
    exploded = toked.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride + 1
    piece = F.slice(F.col("toks"), start, F.lit(chunk_tokens))
    out = exploded.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )
    return out.orderBy("doc_id", "chunk_id") if ordered else out


def chunk_documents_sql(
    table: str = "documents",
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
    text_col: str = "text",
) -> str:
    """DuckDB twin of chunk_documents, generated from the same constants."""
    stride = chunk_tokens - overlap
    return f"""
WITH t AS (
  SELECT doc_id, string_split({text_col}, ' ') AS toks,
         len(string_split({text_col}, ' ')) AS n
  FROM {table}
), e AS (
  SELECT doc_id, toks, u.chunk_id
  FROM t, unnest(generate_series(0,
         CASE WHEN n <= {chunk_tokens} THEN 0
              ELSE (n - {chunk_tokens} + {stride} - 1) // {stride} END)) AS u(chunk_id)
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       len(list_slice(toks, chunk_id * {stride} + 1,
                      chunk_id * {stride} + {chunk_tokens})) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_id * {stride} + 1,
                                  chunk_id * {stride} + {chunk_tokens}), ' ') AS chunk_text
FROM e ORDER BY doc_id, chunk_id
"""


def cross_split_contamination(spark, sf_dir: str, ordered: bool = True) -> DataFrame:
    """Train/test contamination report: near-dup pairs (verified MinHash-LSH)
    whose two documents landed in DIFFERENT splits — the check a training
    pipeline runs after splitting, since a test doc with a train near-dup
    invalidates the eval.

    Composes the session-shared pair table with the zero-shuffle split
    assignment: two broadcast-ready joins of a tiny pair set against a
    narrow projection — nothing here rescans the corpus.
    """
    from ..io import load_table
    from .dedup import minhash_pairs

    pairs = minhash_pairs(spark, sf_dir)
    splits = deterministic_split(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )
    s1 = splits.select(F.col("doc_id").alias("d1"), F.col("split").alias("split_1"))
    s2 = splits.select(F.col("doc_id").alias("d2"), F.col("split").alias("split_2"))
    out = (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .filter(F.col("split_1") != F.col("split_2"))
        .select("d1", "d2", "split_1", "split_2", "jaccard")
    )
    return out.orderBy("d1", "d2") if ordered else out


_SPLIT_CASE = """CASE
  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'train'
  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 950000 THEN 'val'
  ELSE 'test'
END"""


def contamination_sql() -> str:
    from .dedup import DEDUP_MINHASH_SQL

    return f"""
WITH pairs AS (SELECT * FROM ({DEDUP_MINHASH_SQL.replace("ORDER BY d1, d2", "")}) p),
splits AS (SELECT doc_id, {_SPLIT_CASE} AS split FROM documents)
SELECT d1, d2, s1.split AS split_1, s2.split AS split_2, jaccard
FROM pairs JOIN splits s1 ON d1 = s1.doc_id JOIN splits s2 ON d2 = s2.doc_id
WHERE s1.split <> s2.split
ORDER BY d1, d2
"""


BOILERPLATE_MAX_DF = 5


def remove_boilerplate(
    docs: DataFrame, max_df: int = BOILERPLATE_MAX_DF
) -> DataFrame:
    """Boilerplate removal: drop every sentence that appears (exactly) in
    more than `max_df` distinct documents, then reassemble each document
    from its surviving sentences in original order — the CCNet-style
    cleaning pass that strips headers/footers/license blocks before
    training.

    Scale shape: sentence explode → df-count on the sentence hash (one
    shuffle with map-side partial agg) → broadcast-friendly semi-join of
    hot sentences → windowless re-assembly via sort_array over
    (pos, sentence) structs (groupBy shuffle, no global sort). Hashes are
    md5-derived so the DuckDB oracle replicates them exactly.
    """
    sent = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\\. ")).alias("pos", "sentence"),
    )
    sent = sent.withColumn(
        "sh", F.conv(F.substring(F.md5("sentence"), 1, 15), 16, 10).cast("bigint")
    )
    hot = (
        sent.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )
    kept = sent.join(hot, "sh", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "sentence"))
                    ),
                    lambda s: s["sentence"],
                ),
                ". ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_sentences_kept"),
        )
        .orderBy("doc_id")
    )


REMOVE_BOILERPLATE_SQL = f"""
WITH sent AS (
  SELECT doc_id, i - 1 AS pos, ss[i] AS sentence,
         CAST(concat('0x', substr(md5(ss[i]), 1, 15)) AS BIGINT) AS sh
  FROM (SELECT doc_id, string_split(text, '. ') AS ss FROM documents) t,
       unnest(generate_series(1, len(ss))) AS u(i)
),
hot AS (
  SELECT sh FROM sent GROUP BY sh HAVING COUNT(DISTINCT doc_id) > {BOILERPLATE_MAX_DF}
)
SELECT doc_id,
       string_agg(sentence, '. ' ORDER BY pos) AS clean_text,
       COUNT(1) AS n_sentences_kept
FROM sent WHERE sh NOT IN (SELECT sh FROM hot)
GROUP BY doc_id
ORDER BY doc_id
"""


def eval_decontamination(
    docs: DataFrame, eval_docs: DataFrame, min_shared: int = 1
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    ``min_shared`` distinct word-3-gram shingles with ANY eval/benchmark
    document — the standard pretraining hygiene pass (the n-gram-overlap
    flavor used by GPT-3/PaLM-style dedup-against-eval, public method).
    Distinct from cross_split_contamination, which finds near-dups INSIDE
    the corpus across splits; this checks against an external eval set.

    Inputs: docs(doc_id, text), eval_docs(eval_id, text). Output one row
    per contaminated training doc: (doc_id, n_shared_shingles,
    n_eval_docs_hit).

    Scale shape: eval sets are benchmark-sized (MBs) while the corpus is
    the 100 TB side — so the eval shingle table is exploded, deduped, and
    BROADCAST; the corpus side stays a narrow shingle explode feeding one
    broadcast equi-join on the shingle plus one doc_id aggregation. The
    corpus is never shuffled by shingle.
    """
    from .dedup import _shingles

    doc_sh = docs.select("doc_id", F.explode(_shingles()).alias("s"))
    eval_sh = (
        eval_docs.select("eval_id", F.explode(_shingles()).alias("s"))
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("s").alias("n_shared_shingles"),
            F.count_distinct("eval_id").alias("n_eval_docs_hit"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Driver gate: the three corpus reports in one hash-checked row set
# ---------------------------------------------------------------------------


# Gate constants for the mix leg (shared with tests/test_corpus.py's
# library-level parity test — same weights, same budget).
GATE_MIX_WEIGHTS = {"src0": 500_000, "src1": 300_000, "src2": 200_000}
GATE_MIX_BUDGET = 20_000


def q_corpus_assembly(spark, sf_dir: str) -> DataFrame:
    """The corpus-assembly family's driver gate: split counts + packing
    summary + cross-split contamination + document chunking + source
    mixing, union-tagged into one frame with a common (leg, k1, k2, n1,
    n2) shape. Every leg is the library operator tests/test_corpus.py
    already value-checks; the union just buys the family a hash-checked
    CORRECTNESS row inside the driver's 50-query cap. Jaccard crosses the
    oracle as integer ppm so the comparison is exact; the chunk leg
    carries md5(chunk_text) in its key so the window-slicing text content
    (not just counts) is hash-certified.

    The four docs-reading legs share ONE projection of the corpus scan
    (doc_id, source, n_chars, text), checkpointed once per call, instead
    of four parquet scans + four Catalyst-planned subtrees over the same
    file. The contam leg composes the session-shared minhash pair table
    and never rescans the corpus.
    """
    from ..io import checkpoint, load_table

    docs = checkpoint(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars", "text"
        )
    )
    split_leg = split_counts(docs, ordered=False).select(
        F.lit("split").alias("leg"),
        F.col("split").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n_docs").cast("bigint").alias("n1"),
        F.col("n_chars").cast("bigint").alias("n2"),
    )
    pack_leg = pack_summary(docs, ordered=False).select(
        F.lit("pack").alias("leg"),
        F.col("seq_id").cast("string").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n_docs").cast("bigint").alias("n1"),
        F.col("tokens_started").cast("bigint").alias("n2"),
    )
    contam_leg = cross_split_contamination(spark, sf_dir, ordered=False).select(
        F.lit("contam").alias("leg"),
        F.col("d1").cast("string").alias("k1"),
        F.concat_ws(">", F.col("d2").cast("string"), "split_1", "split_2").alias("k2"),
        F.round(F.col("jaccard") * 1_000_000).cast("bigint").alias("n1"),
        F.lit(0).cast("bigint").alias("n2"),
    )
    chunk_leg = chunk_documents(docs, ordered=False).select(
        F.lit("chunk").alias("leg"),
        F.col("doc_id").cast("string").alias("k1"),
        F.concat_ws(":", F.col("chunk_id").cast("string"), F.md5("chunk_text")).alias(
            "k2"
        ),
        F.col("n_chunk_tokens").cast("bigint").alias("n1"),
        F.lit(0).cast("bigint").alias("n2"),
    )
    mix_leg = mix_summary(docs, GATE_MIX_WEIGHTS, GATE_MIX_BUDGET).select(
        F.lit("mix").alias("leg"),
        F.col("source").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n_docs").cast("bigint").alias("n1"),
        F.col("n_tokens").cast("bigint").alias("n2"),
    )
    return (
        split_leg.unionByName(pack_leg)
        .unionByName(contam_leg)
        .unionByName(chunk_leg)
        .unionByName(mix_leg)
        .orderBy("leg", "k1", "k2")
    )


def corpus_assembly_sql() -> str:
    return f"""
WITH split_leg AS ({SPLIT_COUNTS_SQL.replace("ORDER BY split", "")}),
pack_leg AS ({PACK_SUMMARY_SQL.replace("ORDER BY seq_id", "")}),
contam_leg AS ({contamination_sql().replace("ORDER BY d1, d2", "")}),
chunk_leg AS ({chunk_documents_sql().replace("ORDER BY doc_id, chunk_id", "")}),
mix_leg AS ({mix_summary_sql(GATE_MIX_WEIGHTS, GATE_MIX_BUDGET).replace("ORDER BY t.source", "")})
SELECT * FROM (
  SELECT 'split' AS leg, split AS k1, '' AS k2,
         CAST(n_docs AS BIGINT) AS n1, CAST(n_chars AS BIGINT) AS n2
  FROM split_leg
  UNION ALL
  SELECT 'pack', CAST(seq_id AS VARCHAR), '',
         CAST(n_docs AS BIGINT), CAST(tokens_started AS BIGINT)
  FROM pack_leg
  UNION ALL
  SELECT 'contam', CAST(d1 AS VARCHAR),
         CAST(d2 AS VARCHAR) || '>' || split_1 || '>' || split_2,
         CAST(ROUND(jaccard * 1000000) AS BIGINT), CAST(0 AS BIGINT)
  FROM contam_leg
  UNION ALL
  SELECT 'chunk', CAST(doc_id AS VARCHAR),
         CAST(chunk_id AS VARCHAR) || ':' || md5(chunk_text),
         CAST(n_chunk_tokens AS BIGINT), CAST(0 AS BIGINT)
  FROM chunk_leg
  UNION ALL
  SELECT 'mix', source, '', CAST(n_docs AS BIGINT), CAST(n_tokens AS BIGINT)
  FROM mix_leg
) ORDER BY leg, k1, k2
"""


def register_all() -> None:
    from ..registry import register

    register("corpus_assembly", q_corpus_assembly, corpus_assembly_sql())
    register("corpus_report", q_corpus_report, corpus_report_gate_sql())


# ---------------------------------------------------------------------------
# End-to-end corpus build
# ---------------------------------------------------------------------------


def write_corpus(
    corpus: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("split",),
    sort_within: tuple[str, ...] = ("seq_id", "doc_id"),
    max_records_per_file: int = 500_000,
    files_per_split: int = 16,
) -> None:
    """Land a built corpus with the layout a 100 TB training job wants to
    READ, not just what is cheapest to write:

      - `partitionBy(split)` → training readers scan only their split
        directory (partition pruning at the source);
      - `sortWithinPartitions(seq_id, doc_id)` → documents of the same
        packed sequence are physically adjacent, so sequence assembly at
        read time is a streaming merge, not a shuffle — and parquet
        min/max stats on seq_id enable row-group skipping for
        sequence-range reads;
      - `maxRecordsPerFile` bounds file size so a skewed split can't emit
        one giant file (the small-files/giant-file balance knob; tune to
        the target file size for the reader's block size).

    One exchange + a per-task sort; no global sort anywhere. The task sort
    leads with the partition columns ON PURPOSE: the dynamic-partition
    writer requires its input sorted by them and would otherwise insert
    its own (unstable) sort, destroying the (seq_id, doc_id) order.

    The exchange keys on (partition cols, seq-salt), NOT the partition
    cols alone: a low-cardinality column like split hashes each value onto
    ONE task — a 100 TB write on 3 tasks. `files_per_split` salts the
    distribution by the LEADING sort key only (seq_id), so an entire
    packed sequence still lands in one task/file while the split's data
    spreads over files_per_split tasks.
    """
    salt = F.pmod(F.xxhash64(F.col(sort_within[0])), F.lit(files_per_split))
    (
        corpus.repartition(*[F.col(c) for c in partition_by], salt)
        .sortWithinPartitions(*partition_by, *sort_within)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_training_sequences(spark, path: str, text_source: DataFrame | None = None) -> DataFrame:
    """Read a write_corpus layout back as model-ready sequences: one row
    per seq_id with its documents concatenated in doc_id order.

    The assembly is one aggregation keyed by seq_id over data that
    write_corpus stored partition-pruned and sequence-adjacent — on a
    cluster the scan feeds the agg near-sorted, and parquet min/max stats
    on seq_id prune sequence-range reads. Per-sequence order is enforced
    logically (sort_array over (doc_id, text) structs), never via a global
    sort. ``text_source`` joins the text back in when the landed corpus
    stores only assignments (the default build_training_corpus output).

    Returns (split, seq_id, n_docs, seq_tokens, text).
    """
    corpus = spark.read.parquet(path)
    if text_source is not None:
        corpus = corpus.join(text_source.select("doc_id", "text"), "doc_id")
    return (
        corpus.groupBy("split", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
            ).alias("_docs"),
        )
        .select(
            "split",
            "seq_id",
            "n_docs",
            "seq_tokens",
            F.concat_ws(" ", F.expr("transform(_docs, d -> d.text)")).alias("text"),
        )
    )


def build_training_corpus(
    spark,
    sf_dir: str,
    min_quality_bp: int = 5000,
    budget_tokens: int = SEQ_BUDGET_TOKENS,
    redact_pii: bool = False,
    mix_weights_ppm: dict[str, int] | None = None,
    mix_budget_tokens: int | None = None,
    substring_span: int | None = None,
) -> DataFrame:
    """The whole training-data flow as ONE composed DataFrame program:

        quality filter → exact dedup → near-dup removal (keep ONE doc per
        LSH cluster — the min doc_id among the members that survived the
        earlier filters) → [exact substring dedup] → [PII redaction] →
        [source mixing] → deterministic split → sequence packing

    ``substring_span`` inserts dedup.exact_substring_dedup over the
    survivors (duplicated runs shared only with DROPPED docs stay, by
    design — the canonical copy keeps its text); ``redact_pii`` swaps each
    surviving doc's text for its redacted form (redaction.pii_redact)
    BEFORE packing, since both rewrites change token counts;
    ``mix_weights_ppm``/``mix_budget_tokens`` insert a mix_corpus stage
    after dedup so the mixture is computed over deduped token mass.

    Returns one row per surviving document with its split and packed
    sequence assignment. Every stage is the library operator the individual
    gates already verify; the composition adds only semi-/anti-joins on
    doc_id, so the plan stays a chain of equi-joins over one corpus scan
    plus the (session-shared) dedup subtrees — nothing quadratic, nothing
    driver-side.
    """
    from .dedup import dedup_cluster_labels
    from .text import q_quality_score

    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")

    # 1. quality gate (integer basis points — engine-exact)
    quality = q_quality_score(spark, sf_dir).filter(
        F.col("quality_score_bp") >= min_quality_bp
    ).select("doc_id")

    # 2. exact dedup: keep the lowest doc_id per identical text
    exact_keep = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    # 3. near-dup removal: inside every LSH cluster keep ONE canonical doc,
    #    chosen among the members that SURVIVED the quality/exact filters
    #    (min surviving doc_id). Canonicalizing on the raw cluster_id would
    #    silently drop a cluster's entire content whenever its raw keeper
    #    itself failed quality: keeper gone via the quality gate, every
    #    other member gone as a "loser" — even the high-quality copies the
    #    cluster was supposed to be represented by.
    survivors12 = (
        docs.select("doc_id")
        .join(quality, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
    )
    # labels-only entry point: assemble_corpus reads membership only,
    # so it must not pay the gate's pagerank/sizes/keeper folds (r10)
    clusters = dedup_cluster_labels(spark, sf_dir)
    surviving_members = clusters.select("doc_id", "cluster_id").join(
        survivors12, "doc_id", "left_semi"
    )
    keepers = surviving_members.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keeper_id")
    )
    near_dup_losers = (
        surviving_members.join(keepers, "cluster_id")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )

    # NO forced broadcast on ANY of these sides. quality and exact_keep are
    # CORPUS-cardinality doc_id sets — broadcasting them would OOM at scale.
    # near_dup_losers is small on a lightly-duplicated corpus, but its only
    # bound is the near-dup loser count, which on a dup-heavy web crawl is
    # 20-50% OF THE CORPUS — the same OOM class. AQE broadcasts it at
    # runtime when it measures small, and falls back to a shuffle anti-join
    # when it doesn't; a hint would force the OOM exactly when dedup
    # matters most.
    kept = (
        docs.join(quality, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
        .join(near_dup_losers, "doc_id", "left_anti")
    )

    # 3a2. optional token-level substring dedup over the survivors
    if substring_span is not None:
        from .dedup import exact_substring_dedup

        cleaned = exact_substring_dedup(
            kept.select("doc_id", "text"), span=substring_span, ordered=False
        ).select("doc_id", F.col("cleaned_text").alias("text"))
        kept = kept.drop("text").join(cleaned, "doc_id")

    # 3b. optional PII redaction — a narrow map over survivors only
    if redact_pii:
        from .redaction import pii_redact

        red = pii_redact(kept.select("doc_id", "text"), ordered=False).select(
            "doc_id", F.col("redacted").alias("text")
        )
        kept = kept.drop("text").join(red, "doc_id")

    # 3c. optional source mixing over the deduped token mass. mix_corpus
    # runs source_token_totals as an EAGER action at plan-construction
    # time; without materializing first, the whole quality/dedup join
    # chain above would execute twice — once for the totals, once when
    # the returned plan runs (only the LSH pair table is session-cached).
    if mix_weights_ppm is not None:
        if mix_budget_tokens is None:
            raise ValueError("mix_weights_ppm requires mix_budget_tokens")
        kept = kept.localCheckpoint(eager=True)
        kept = mix_corpus(kept, mix_weights_ppm, mix_budget_tokens)

    # 4-5. split FIRST, then pack WITHIN each split — a packed sequence
    # must never straddle train/test (it would leak eval text into
    # training sequences). Sequence identity is therefore (split, seq_id).
    return (
        pack_sequences(
            deterministic_split(kept),
            budget_tokens=budget_tokens,
            extra_keys=("split",),
        )
        .select("doc_id", "split", "seq_id", "n_tokens")
        .orderBy("doc_id")
    )
