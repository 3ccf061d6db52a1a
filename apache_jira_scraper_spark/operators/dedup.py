"""Deduplication operator family (BASELINE.json north star: "dedup").

Five flavors over `documents` (+ one over `embeddings`), each a real
shuffle-based distributed algorithm — no driver-side loops:

  exact          md5(content) hash-groupBy keep-first
  minhash-LSH    shingle → k minhashes → banded buckets → candidate pairs
                 → exact-jaccard verification (the 100 TB-scale path:
                 candidates come from equi-joins on band keys, never O(n²))
  simhash        60-bit sign-aggregated token fingerprint + hamming pairs
                 (pigeonhole-blocked: 4×15-bit blocks, join on equal block)
  n-gram jaccard exact set-similarity join via shared-shingle equi-join
                 (inverted-index style: |A∩B| from a groupBy on shingle)
  embedding      cosine-threshold near-dup pairs, blocked on
                 (label, sign-LSH bucket) — the same deterministic bucket
                 the ANN path in similarity.py joins on

Hashing is portable-by-construction (md5 hex → BIGINT, see
text.token_hash60) so every stage is replicated by the DuckDB oracle —
MinHash permutations use (a*x + b) mod P with 32-bit x and 20-bit a so
products stay < 2^52: exact in BIGINT and in IEEE double, no overflow in
either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import checkpoint, free_local_checkpoint, load_table, load_table_parallel, own
from .graph import (
    PAGERANK_FINAL_CTE,
    PAGERANK_W_FINAL_CTE,
    pagerank,
    pagerank_sql_ctes,
    pagerank_weighted,
    pagerank_weighted_sql_ctes,
    symmetric_edges,
)

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime), minhash modulus
NUM_HASHES = 8
BANDS = 4  # 2 rows per band
# (a, b) parameters per hash fn; a < 2^20 keeps a*x < 2^52 (exact everywhere)
HASH_PARAMS = [(999_983 - 7 * i, 7_919 * (i + 1) + 13) for i in range(NUM_HASHES)]

JACCARD_THRESHOLD = 0.8
LSH_VERIFY_THRESHOLD = 0.5
HAMMING_MAX = 3
COSINE_DUP_THRESHOLD = 0.25  # tuned to the synthetic embeddings; see gate docstring


def lsh_collision_prob(s: float, bands: int, rows: int) -> float:
    """Probability that a pair with jaccard similarity `s` becomes an LSH
    candidate under (bands × rows) banding: 1 - (1 - s^rows)^bands — the
    OR-over-bands / AND-within-band amplification S-curve."""
    return 1.0 - (1.0 - s**rows) ** bands


def lsh_plan(threshold: float, n_perm: int) -> tuple[int, int]:
    """Banding-parameter planning: pick (bands, rows) with bands*rows <=
    n_perm whose S-curve knee (1/bands)^(1/rows) sits closest to the
    target jaccard threshold — the standard Leskovec-Rajaraman-Ullman
    sizing rule, and the minhash twin of similarity.lsh_n_bits's
    "parameters follow the workload" contract. Driver-side O(n_perm)
    arithmetic; ties prefer MORE permutations used (sharper curve), then
    more bands (recall over precision, since every candidate is exactly
    verified downstream anyway).

    The module's NUM_HASHES=8 / BANDS=4 (rows=2) instance corresponds to
    lsh_plan(0.5, 8) — the gate's LSH_VERIFY_THRESHOLD — pinned in
    tests/test_dedup.py so the constants can't drift from the contract.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1, got {n_perm}")
    best_key: tuple[float, int, int] | None = None
    choice = (1, 1)
    for rows in range(1, n_perm + 1):
        bands = n_perm // rows
        knee = (1.0 / bands) ** (1.0 / rows)
        key = (abs(knee - threshold), -(bands * rows), -bands)
        if best_key is None or key < best_key:
            best_key = key
            choice = (bands, rows)
    return choice


def _toks() -> Column:
    return F.split(F.col("text"), " ")


def _gramn(toks: Column, n: int) -> Column:
    """Distinct word-n-gram array over a token-array column; [] for docs
    under n tokens. THE gram builder — _gram3 (the shingle definition for
    the whole MinHash family) and text.contamination_report's 8-grams both
    derive from this one function, so a change to the guard, separator, or
    distinctness cannot desynchronize the shingle space from the
    decontamination gram space (review r11: they were two copies).

    The short-doc case needs an explicit CASE: Spark's sequence(1, 0) is a
    DESCENDING [1, 0] (not empty like DuckDB's generate_series), so without
    the guard a too-short doc asks element_at past the end and the query
    errors out.
    """
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _gram3(toks: Column) -> Column:
    """Distinct word-3-gram shingle array — THE shingle definition
    (_shingles, _doc_shingle_df, build_dedup_index); see _gramn."""
    return _gramn(toks, 3)


def _shingles() -> Column:
    """Distinct word-3-gram shingles of the `text` column (see _gram3)."""
    return _gram3(_toks())


_SHINGLES_SQL = """
  SELECT doc_id, s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i),
       LATERAL (SELECT concat_ws(' ', list_extract(toks, i),
                                 list_extract(toks, i + 1),
                                 list_extract(toks, i + 2)) AS s) x
  GROUP BY doc_id, s
"""


def _hash32(col: Column) -> Column:
    """Portable 32-bit shingle hash: first 8 md5 hex chars -> BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


_HASH32_SQL = "CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)"


def _doc_shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    # Two-phase projection: alias `toks` first so split(text) runs once per
    # row, not once per element_at reference inside the shingle lambda
    # (CollapseProject keeps multi-referenced non-cheap aliases separate).
    toks = docs.select("doc_id", _toks().alias("toks"))
    return toks.select("doc_id", F.explode(_gram3(F.col("toks"))).alias("s"))


def _hash60(col: Column | str) -> Column:
    """Portable 60-bit content hash: first 15 md5 hex chars -> BIGINT —
    shared by the shingle index, the incremental index, and substring
    dedup's gram hashing (the oracle uses the identical derivation)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _doc_shingle_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, 60-bit shingle hash) — joins on a BIGINT shuffle ~3× faster
    than on the shingle string; 60 bits keeps collision odds ~1e-8 at 10M
    shingles, and the oracle uses the identical md5-derived hash."""
    sh = _doc_shingle_df(spark, sf_dir)
    return sh.select("doc_id", _hash60("s").alias("sh"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content md5, keep lowest doc_id.

    At 100 TB this is one shuffle on a 128-bit key with map-side partial
    aggregation — the canonical first dedup pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_doc_id", "n_copies")
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keeper_doc_id, COUNT(1) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keeper_doc_id
"""


def _signatures(
    spark: SparkSession, sf_dir: str, sh_hashed: DataFrame | None = None
) -> DataFrame:
    """MinHash signatures from the 60-bit hashed shingle table.

    The 32-bit permutation input x is the TOP 32 bits of the 60-bit hash
    (= first 8 md5 hex chars, since 60 bits = 15 hex digits), so a caller
    holding a persisted `_doc_shingle_hashed` table gets signatures without
    a second md5 pass — one shingle scan feeds banding AND verification.
    """
    if sh_hashed is None:
        sh_hashed = _doc_shingle_hashed(spark, sf_dir)
    x = F.shiftright(F.col("sh"), 28)
    hashed = sh_hashed.select(
        "doc_id",
        *[((F.lit(a) * x + F.lit(b)) % P31).alias(f"h{i}") for i, (a, b) in enumerate(HASH_PARAMS)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(NUM_HASHES)]
    )


_X_SQL = _HASH32_SQL.format(s="s")
_SIG_SQL = f"""
  SELECT doc_id,
         {", ".join(f"MIN(({a} * {_X_SQL} + {b}) % {P31}) AS m{i}" for i, (a, b) in enumerate(HASH_PARAMS))}
  FROM ({_SHINGLES_SQL}) sh
  GROUP BY doc_id
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) per document — the dedup sketch itself."""
    return _signatures(spark, sf_dir).orderBy("doc_id")


MINHASH_SIG_SQL = f"SELECT * FROM ({_SIG_SQL}) s ORDER BY doc_id"


_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed shingle inverted index (doc_id, sh), materialized once per
    (session, sf_dir) and shared by every consumer — minhash signatures,
    LSH verification, and the exact n-gram jaccard join all read the same
    blocks. The production analog is landing the shingle table once between
    pipeline stages rather than re-tokenizing the corpus per operator."""
    from ..io import session_cached

    return session_cached(
        _SHINGLE_CACHE,
        spark,
        (sf_dir,),
        lambda: _doc_shingle_hashed(spark, sf_dir).localCheckpoint(eager=True),
    )


_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs (unordered), materialized once
    per (session, sf_dir): the pair gate and the clusters gate both consume
    this subtree, and a production pipeline would likewise land the pair
    table once between its dedup stages.

    Banding: 4 bands × 2 rows; a pair collides if any band's packed key is
    equal → candidate generation is 4 self-equi-joins on a single BIGINT
    (shuffle-friendly; never materializes O(n²)). Candidates are then
    verified with exact jaccard via the shared-shingle inverted index and
    filtered at 0.5.
    """
    from ..io import session_cached

    # The checkpoint holds the final pair blocks; the build's persisted
    # candidate set and candidate shingles are freed with the build scope.
    return session_cached(
        _PAIRS_CACHE,
        spark,
        (sf_dir,),
        lambda: _minhash_pairs_uncached(spark, sf_dir).localCheckpoint(eager=True),
    )


def _minhash_pairs_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shingle+md5 pass (shared session cache): signatures (via the
    # top-32-bits trick in _signatures), sizes, and the verification
    # inverted index all read the same materialized (doc_id, sh) table
    # instead of re-running the pipeline.
    sh = shingle_index(spark, sf_dir)
    sig = _signatures(spark, sf_dir, sh_hashed=sh)
    # One exploded (band_idx, band_key) table + a single self-equi-join —
    # NOT four separate joins: Spark recomputes the upstream subtree for
    # every union branch, so a 4-way union of band joins costs 8 signature
    # rebuilds.
    bandrows = _band_rows(sig)
    cand = own(
        bandrows.select(F.col("doc_id").alias("d1"), "bidx", "bk")
        .join(bandrows.select(F.col("doc_id").alias("d2"), "bidx", "bk"), ["bidx", "bk"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .persist()
    )

    # Exact-jaccard verification via the ONE shared implementation
    # (_verify_jaccard, ordered pairs) — the batch and incremental paths
    # must run literally the same verification code or they drift.
    return _verify_jaccard(sh, cand, ordered=True)


def build_dedup_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The persistable MinHash dedup index for an arbitrary (doc_id, text)
    corpus: the hashed-shingle inverted table (doc_id, sh) and the k=8
    signature table. A production pipeline lands both between crawl
    batches; the signature table is the small one (one row per doc), the
    shingle table is read only for candidate verification."""
    toked = docs.select("doc_id", _toks().alias("toks"))
    sh = toked.select("doc_id", F.explode(_gram3(F.col("toks"))).alias("s")).select(
        "doc_id", _hash60("s").alias("sh")
    )
    # EVERY doc gets a signature row — shingle-less (< 3 token) docs carry
    # null minhashes. Their band keys are null, and a null bk can never
    # equi-join, so they produce no LSH candidates; but their PRESENCE in
    # the signature table is what lets incremental_dedup's id-replay
    # anti-join see them (an index of only shingled docs silently re-kept
    # replayed short docs).
    sig = docs.select("doc_id").join(
        _signatures(docs.sparkSession, "", sh_hashed=sh), "doc_id", "left"
    )
    return sh, sig


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, bidx, bk): one exploded row per band with the packed BIGINT
    band key — the LSH candidate-join key (see _minhash_pairs_uncached)."""
    two31 = F.lit(2_147_483_648)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bidx"),
                        (F.col(f"m{2 * j}") * two31 + F.col(f"m{2 * j + 1}")).alias("bk"),
                    )
                    for j in range(BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.bidx", "b.bk")


def _verify_jaccard(
    sh_all: DataFrame, cand: DataFrame, ordered: bool = False
) -> DataFrame:
    """Exact-jaccard verification of (d1, d2) candidates against a hashed
    shingle table, restricted to candidate docs via semi-joins — THE
    verification stage, shared by the batch LSH path
    (_minhash_pairs_uncached: ordered=True) and the incremental path so a
    change to the contract cannot desynchronize them. Candidate volume is
    O(dup_rate * n), so no broadcast hints: shuffle semi-joins scale to
    any candidate count and AQE broadcasts small sets at runtime.

    ordered=True restricts to d1 < d2 candidate pairs (the self-join
    canonical form); False verifies both orientations (the incremental
    new-vs-index form). The candidate shingle projection feeds three
    consumers (sizes and both sides of the intersection join), so it is
    persisted and owned by the caller's io scope.
    """
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .unionByName(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    sh_cand = own(sh_all.join(cand_docs, "doc_id", "left_semi").persist())
    pair_pred = (
        (F.col("d1") < F.col("d2")) if ordered else (F.col("d1") != F.col("d2"))
    )
    sizes = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh_cand.select(F.col("doc_id").alias("d1"), "sh")
        .join(sh_cand.select(F.col("doc_id").alias("d2"), "sh"), "sh")
        .filter(pair_pred)
        .join(cand, ["d1", "d2"], "left_semi")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
    )


def incremental_dedup(
    new_docs: DataFrame,
    index: tuple[DataFrame, DataFrame] | None = None,
    kept_parts_out: list | None = None,
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """Dedupe a NEW crawl batch against the already-kept corpus without
    recomputing anything over the old data — the operational 100 TB shape
    (a daily crawl lands against a multi-petabyte index; re-running global
    dedup per batch is a non-starter).

    ``index`` is (shingles, signatures) over the KEPT corpus as returned by
    build_dedup_index / a previous incremental_dedup; None bootstraps the
    first batch. Candidate generation is two band equi-joins — new×index
    and new×new — so the index side is touched only at its band keys and
    the verification semi-joins; the full old corpus is never re-shingled.
    Verification is exact jaccard at LSH_VERIFY_THRESHOLD.

    Drop policy (greedy, order-stable): a new doc is dropped iff it
    verified-matches ANY indexed doc, or a smaller-doc_id doc of its own
    batch. Equal to global min-id-per-component dedup whenever duplicate
    relations don't chain through dropped docs (a doc matching only a
    dropped doc is kept here, dropped by the global form) — the standard
    incremental-dedup approximation; sub-3-token docs have no shingles, so
    they are kept on first arrival (and, like every kept doc, replay-
    dropped on re-delivery — the signature table carries a null-minhash
    row for them precisely so the id-replay guard can see them).

    A new doc whose doc_id ALREADY EXISTS in the index is dropped outright
    before the LSH path — that is a replay (at-least-once sources re-deliver
    whole batches), and the near-dup machinery cannot see it (its pair
    would be (i, i), which verification rightly ignores). Content dupes
    arriving under NEW ids go through LSH as usual.

    Returns (kept_new_docs, updated_index), lazy plans over this call's
    internal checkpoints (the batch shingle/signature tables and the
    losers set), which the caller's io scope owns. `kept_parts_out`,
    when given, receives the LAZY (sh_kept, sig_kept) pair covering
    ONLY this batch's kept docs — the per-batch index
    SEGMENT a tiered-state caller (streaming_dedup_ingest, r09)
    checkpoints instead of re-materializing the full unioned index every
    advance.
    """
    if index is not None:
        sh_idx, sig_idx = index
        fresh = new_docs.join(sig_idx.select("doc_id"), "doc_id", "left_anti")
    else:
        sh_idx, sig_idx = None, None
        fresh = new_docs
    sh_new, sig_new = build_dedup_index(fresh)
    # Lazy checkpoints: the batch's shingle/signature tables each feed
    # several consumers below (band rows on BOTH sides of the within-join,
    # the verify union, the kept-index anti-joins) — without a
    # materialization point every consumer re-runs the tokenize + shingle +
    # md5 + minhash subtree (measured: the vs-index round spent most of its
    # wall re-deriving sh_new/sig_new at sf0.1). eager=False keeps plan
    # construction side-effect-free; blocks land on first use.
    sh_new = own(sh_new.localCheckpoint(eager=False))
    sig_new = own(sig_new.localCheckpoint(eager=False))
    bands_new = _band_rows(sig_new)
    if sig_idx is not None:
        vs_index = (
            bands_new.select(F.col("doc_id").alias("d2"), "bidx", "bk")
            .join(_band_rows(sig_idx).select(F.col("doc_id").alias("d1"), "bidx", "bk"),
                  ["bidx", "bk"])
            .select("d1", "d2")
            .distinct()
        )
        sh_all = sh_idx.unionByName(sh_new)
    else:
        vs_index = None
        sh_all = sh_new
    within = (
        bands_new.select(F.col("doc_id").alias("d1"), "bidx", "bk")
        .join(bands_new.select(F.col("doc_id").alias("d2"), "bidx", "bk"), ["bidx", "bk"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    # No distinct over the union (r14, guide §2.4): `within` pairs have both
    # ids in `fresh`, `vs_index` pairs have d1 from the index — and fresh is
    # anti-joined against the index's ids above, so the two sides are
    # DISJOINT and each is already distinct; the union-level distinct was a
    # full extra shuffle of the candidate set that provably merged nothing.
    cand = within if vs_index is None else within.unionByName(vs_index)
    # materialized once: three consumers (kept docs, shingle keep, signature
    # keep) would otherwise each re-run the band-join + verification subtree
    losers = checkpoint(
        _verify_jaccard(sh_all, cand).select(F.col("d2").alias("doc_id")).distinct()
    )
    # no broadcast hint on `losers`: it is batch-cardinality (unbounded at
    # scale) — plain anti-joins let AQE broadcast when it is actually small
    kept = fresh.join(losers, "doc_id", "left_anti")
    sh_kept = sh_new.join(losers, "doc_id", "left_anti")
    sig_kept = sig_new.join(losers, "doc_id", "left_anti")
    new_index = (
        (sh_kept, sig_kept)
        if sig_idx is None
        else (sh_idx.unionByName(sh_kept), sig_idx.unionByName(sig_kept))
    )
    if kept_parts_out is not None:
        kept_parts_out.extend([sh_kept, sig_kept])
    return kept, new_index


def exact_substring_dedup(
    docs: DataFrame, span: int = 50, ordered: bool = True
) -> DataFrame:
    """Exact substring deduplication: remove every token run of length
    >= `span` that occurs more than once ANYWHERE in the corpus (the
    token-level complement to document-level dedup — boilerplate headers,
    license blocks, and templated passages survive document dedup because
    their host documents differ).

    Mechanics: hash every `span`-token window (60-bit md5-derived, same
    portability trick as the shingle index), find hashes with >= 2
    occurrences corpus-wide (one partial-agg shuffle keyed by the gram
    hash), semi-join the hot windows back (second shuffle), collect each
    doc's hot window starts (doc-keyed shuffle), then a narrow map marks
    covered token indices and reassembles the text. REMOVE-ALL semantics:
    every occurrence of a duplicated span goes, including the first — the
    order-independent contract (keep-first would make output depend on a
    global occurrence ordering); callers wanting one surviving copy keep a
    canonical doc via document-level dedup first.

    Returns (doc_id, n_tokens, n_removed, cleaned_text); docs shorter than
    `span` pass through unchanged.
    """
    toked = docs.select("doc_id", _toks().alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    starts = F.when(
        F.col("n") >= span, F.sequence(F.lit(1), F.col("n") - span + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = toked.select(
        "doc_id",
        F.explode(starts).alias("s"),
        "toks",
    ).select(
        "doc_id",
        "s",
        _hash60(F.concat_ws(" ", F.slice("toks", F.col("s"), span))).alias("gh"),
    )
    hot = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    hot_occ = (
        grams.join(hot.select("gh"), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + span - 1),
            )
        )
    )
    out = (
        toked.join(hot_occ, "doc_id", "left")
        .select("doc_id", "toks", F.col("n").alias("n_tokens"), covered.alias("cov"))
        .select(
            "doc_id",
            "n_tokens",
            F.size("cov").alias("n_removed"),
            F.concat_ws(
                " ",
                F.filter(F.col("toks"), lambda t, i: ~F.array_contains(F.col("cov"), i + 1)),
            ).alias("cleaned_text"),
        )
    )
    return out.orderBy("doc_id") if ordered else out


def exact_substring_dedup_sql(span: int = 50, table: str = "documents") -> str:
    """DuckDB twin of exact_substring_dedup (same hash, same indices)."""
    return f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM {table}
), grams AS (
  SELECT doc_id, u.s,
         CAST(concat('0x', substr(md5(array_to_string(
           list_slice(toks, u.s, u.s + {span} - 1), ' ')), 1, 15)) AS BIGINT) AS gh
  FROM toked, unnest(generate_series(1, n - {span} + 1)) AS u(s)
  WHERE n >= {span}
), hot AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(1) >= 2
), hot_occ AS (
  SELECT doc_id, list(s) AS starts
  FROM grams SEMI JOIN hot USING (gh)
  GROUP BY doc_id
), marked AS (
  SELECT t.doc_id, t.toks, t.n,
         list_distinct(flatten(list_transform(
           COALESCE(h.starts, []), s -> generate_series(s, s + {span} - 1)
         ))) AS cov
  FROM toked t LEFT JOIN hot_occ h ON t.doc_id = h.doc_id
)
SELECT doc_id, n AS n_tokens,
       len(cov) AS n_removed,
       COALESCE(array_to_string(
         list_filter(toks, (t, i) -> NOT list_contains(cov, i)), ' '), '')
         AS cleaned_text
FROM marked ORDER BY doc_id
"""


def q_dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged near-dup gate (r05 rotation), three legs in one driver slot
    on the common (leg, a, b, v, h) shape:

      lsh     MinHash-LSH pairs:   a=d1, b=d2, v=jaccard
      ngram   exact jaccard pairs: a=d1, b=d2, v=jaccard
      substr  exact substring dedup (token-run removal): a=doc_id,
              b=n_removed, v=n_tokens, h=md5(cleaned_text) — the hash
              certifies the reassembled TEXT, not just the counts

    lsh and ngram read the session-shared shingle index, so their merge
    costs one extra leg over the same materialized blocks; ngram and
    substr are per-call work, lazy inside the union. The standalone
    operators remain the library API."""
    lsh = minhash_pairs(spark, sf_dir).select(
        F.lit("lsh").alias("leg"),
        F.col("d1").alias("a"),
        F.col("d2").alias("b"),
        F.col("jaccard").alias("v"),
        F.lit("").alias("h"),
    )
    ng = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("leg"),
        F.col("d1").alias("a"),
        F.col("d2").alias("b"),
        F.col("jaccard").alias("v"),
        F.lit("").alias("h"),
    )
    sub = exact_substring_dedup(
        load_table_parallel(spark, sf_dir, "documents"), ordered=False
    ).select(
        F.lit("substr").alias("leg"),
        F.col("doc_id").alias("a"),
        F.col("n_removed").cast("bigint").alias("b"),
        F.col("n_tokens").cast("double").alias("v"),
        F.md5("cleaned_text").alias("h"),
    )
    return lsh.unionByName(ng).unionByName(sub).orderBy("leg", "a", "b")


_BANDS_SQL = f"""
  SELECT doc_id,
         {", ".join(f"m{2 * j} * 2147483648 + m{2 * j + 1} AS b{j}" for j in range(BANDS))}
  FROM ({_SIG_SQL}) s
"""

DEDUP_MINHASH_SQL = f"""
WITH bands AS ({_BANDS_SQL}),
cand AS (
  {" UNION ".join(f"SELECT a.doc_id AS d1, b.doc_id AS d2 FROM bands a JOIN bands b ON a.b{j} = b.b{j} AND a.doc_id < b.doc_id" for j in range(BANDS))}
),
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(1) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(1) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= {LSH_VERIFY_THRESHOLD}
ORDER BY d1, d2
"""


def q_dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_doc_freq: int | None = None
) -> DataFrame:
    """Exact n-gram set-similarity join: inverted-index equi-join on the
    shared shingle, |A∩B| by groupBy, jaccard ≥ 0.8.

    The scale caveat vs LSH: the shingle join explodes on hot shingles;
    at 100 TB you run minhash-LSH first and reserve this for verification —
    or pass `max_doc_freq` to drop shingles appearing in more than that
    many documents from the index (the standard df-cutoff): the self-join's
    worst key fans out max_doc_freq², independent of corpus size. Recall
    contract: a pair overlapping ONLY in dropped hot shingles is missed and
    jaccard is computed over the surviving shingles, so this is the
    approximate scale twin (default None = exact, the oracle-checked gate).
    """
    # One shingle pass: the shared session-materialized index; the
    # self-join's two sides and the size table all read the same blocks.
    sh = shingle_index(spark, sf_dir)
    if max_doc_freq is not None:
        # df-cutoff: one extra agg on the persisted index + a semi-join that
        # keeps only cold shingles; sizes are recomputed over the pruned
        # index so the jaccard denominator matches the pruned universe.
        cold = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        # localCheckpoint, not persist: persist() pins the plan in the
        # CacheManager for the rest of the session (never GC'd); checkpoint
        # blocks are ContextCleaner-managed once this DF goes out of scope
        sh = sh.join(cold, "sh", "left_semi").localCheckpoint(eager=True)
    # Per-doc set size via a window over the shingle table itself — the
    # COUNT lands in the SAME doc_id shuffle that a join against a separate
    # sizes table would need anyway, but with no second table and no
    # broadcast. The previous form broadcast a one-row-per-document sizes
    # table (corpus cardinality — billions of rows at 100 TB, executor OOM,
    # and AQE cannot demote an explicit hint).
    sh_sized = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    # Lossless size-ratio prefilter: jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    # so pairs whose size ratio cannot reach the threshold are pruned
    # inside the join before the pair-count aggregation. The cut honors the
    # ROUNDED emission filter: the final filter is round(j, 6) >= 0.8,
    # which admits true jaccard down to 0.7999995 — a sharp 4/5 ratio cut
    # would prune a pair at j = 0.7999996 that the (unfiltered) oracle
    # keeps after rounding. Integer-only arithmetic at 1e7 scale stays
    # engine-exact and overflow-free (n ≤ ~1e9 shingles → 1e16 < 2^63).
    thr_e7 = int(round(JACCARD_THRESHOLD * 10_000_000)) - 5  # round-down margin
    left = sh_sized.select(
        F.col("doc_id").alias("d1"), "sh", F.col("n").alias("n1")
    )
    right = sh_sized.select(
        F.col("doc_id").alias("d2"), "sh", F.col("n").alias("n2")
    )
    # n1/n2 ride through the pair aggregation (functionally dependent on
    # d1/d2, carried via grouping keys) so the jaccard denominator needs NO
    # re-join against a sizes table afterwards.
    inter = (
        left.join(right, "sh")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.col("n1") * 10_000_000 >= F.col("n2") * thr_e7)
            & (F.col("n2") * 10_000_000 >= F.col("n1") * thr_e7)
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(1) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(1) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


DEDUP_NEAR_PAIRS_SQL = f"""
SELECT 'lsh' AS leg, d1 AS a, d2 AS b, jaccard AS v, '' AS h
FROM ({DEDUP_MINHASH_SQL})
UNION ALL
SELECT 'ngram' AS leg, d1 AS a, d2 AS b, jaccard AS v, '' AS h
FROM ({NGRAM_JACCARD_SQL})
UNION ALL
SELECT 'substr' AS leg, doc_id AS a, CAST(n_removed AS BIGINT) AS b,
       CAST(n_tokens AS DOUBLE) AS v, md5(cleaned_text) AS h
FROM ({{SUBSTR_SQL}})
ORDER BY leg, a, b
""".replace("{SUBSTR_SQL}", exact_substring_dedup_sql())


SIMHASH_BITS = 60  # 15 md5 hex chars -> portable BIGINT in both engines
SIMHASH_BLOCK_BITS = 15  # 4 blocks; hamming<=3 pairs share >=1 block (pigeonhole)


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash: per token-occurrence 60-bit hash, per-bit ±1 vote,
    sign of the vote sum sets the bit. Token multiplicity counts.

    60 bits (not a toy 16) keeps hamming<=3 a genuine near-dup relation:
    random doc pairs land near hamming ~30, so the pair output stays linear
    in the number of true duplicates instead of going quadratic."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    # hash once per token occurrence (separate projection), not once per of
    # the 60 bit-vote expressions
    tok = docs.select("doc_id", F.explode(_toks()).alias("t")).select(
        "doc_id", _hash60("t").alias("x")
    )
    # Packed bit-counter aggregation: 60 per-bit SUMs generate a pathological
    # whole-stage-codegen method (~17 s of Janino compile at first run), so
    # pack 3 counters per BIGINT in 20-bit fields — 20 SUMs carry all 60
    # counts. Field width bounds the votes at 2^20-1 token occurrences per
    # document (and the packed row sum stays < 2^63 for n < 8M tokens), far
    # above any real document. v_i > 0 ⟺ 2*s_i > n as before, so the
    # resulting simhash is bit-identical to the unpacked form and the oracle
    # SQL needs no change.
    groups = SIMHASH_BITS // 3
    packed = [
        F.expr(
            f"CAST(((x >> {3 * g}) & 1) + (((x >> {3 * g + 1}) & 1) << 20)"
            f" + (((x >> {3 * g + 2}) & 1) << 40) AS BIGINT)"
        ).alias(f"p{g}")
        for g in range(groups)
    ]
    votes = (
        tok.select("doc_id", *packed)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            *[F.sum(f"p{g}").alias(f"S{g}") for g in range(groups)],
        )
    )
    sim = F.expr(
        "CAST("
        + " + ".join(
            f"(CASE WHEN 2 * ((S{i // 3} >> {20 * (i % 3)}) & 1048575) > nt"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(SIMHASH_BITS)
        )
        + " AS BIGINT)"
    )
    return votes.select("doc_id", sim.alias("simhash"))


_XT_SQL = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"
_SIMHASH_SQL = f"""
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60))} AS BIGINT) AS simhash
  FROM (
    SELECT doc_id,
           {", ".join(f"SUM(CASE WHEN ((x >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(60))}
    FROM (SELECT doc_id, {_XT_SQL} AS x
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) tk0) tk
    GROUP BY doc_id
  ) v
"""


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_df(spark, sf_dir).orderBy("doc_id")


SIMHASH_SIG_SQL = f"SELECT * FROM ({_SIMHASH_SQL}) s ORDER BY doc_id"


_SIMHASH_CACHE: dict[tuple[str, str], DataFrame] = {}


def _simhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized (doc_id, simhash) sketch table — the shingle_
    index pattern: the pair join's two sides read one checkpointed leaf. A
    bare .persist() here registered the plan in the CacheManager forever
    (a strong reference — never GC'd, executor storage leaked for the rest
    of the session); the localCheckpoint blocks are ContextCleaner-managed
    and the cache is keyed per (session, sf_dir) like its siblings."""
    from ..io import session_cached

    return session_cached(
        _SIMHASH_CACHE,
        spark,
        (sf_dir,),
        lambda: _simhash_df(spark, sf_dir).localCheckpoint(eager=True),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ 3 on the 60-bit sketch.

    Exact pigeonhole blocking instead of the O(n²) all-pairs join: split the
    sketch into 4 15-bit blocks; any pair within hamming 3 differs in ≤3
    bits, so at least one block is identical (4 blocks, 3 changes). Joining
    on (block_idx, block_value) therefore finds EVERY qualifying pair — the
    hamming filter then drops false candidates, and distinct() collapses
    pairs that collide in several blocks. This is the Manku/Google simhash
    dedup layout: equi-join shuffles on a small key, never a cross-join.
    """
    sim = _simhash_cached(spark, sf_dir)
    blocks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("blk"),
                        F.shiftright("simhash", SIMHASH_BLOCK_BITS * j)
                        .bitwiseAND(F.lit((1 << SIMHASH_BLOCK_BITS) - 1))
                        .alias("nib"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.nib")
    a = blocks.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"), "blk", "nib")
    b = blocks.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"), "blk", "nib")

    def _nib(c: Column, e: int) -> Column:
        return F.shiftright(c, SIMHASH_BLOCK_BITS * e).bitwiseAND(
            F.lit((1 << SIMHASH_BLOCK_BITS) - 1)
        )

    # Emit each pair only from its FIRST agreeing block (earlier blocks must
    # differ): exact dedup as a codegen'd filter instead of a distinct()
    # shuffle over the multiply-matched candidate stream.
    first_block_only = F.lit(True)
    for e in range(3):
        first_block_only = first_block_only & (
            (F.col("blk") <= e) | (_nib(F.col("s1"), e) != _nib(F.col("s2"), e))
        )
    return (
        a.join(b, ["blk", "nib"])
        .filter((F.col("d1") < F.col("d2")) & first_block_only)
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )


DEDUP_SIMHASH_SQL = f"""
WITH s AS ({_SIMHASH_SQL})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
ORDER BY d1, d2
"""


EMB_N_BITS = 5  # 32 buckets at the gate corpus; size with similarity.lsh_n_bits


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    n_bits: int = EMB_N_BITS,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``, blocked on
    (label, sign-LSH bucket) — the same deterministic bucket family the ANN
    path uses (similarity._bucket), so each label block is subdivided
    2**n_bits ways and the within-block pair join stays linear-ish at
    corpus scale (label alone is quadratic within a block). Size n_bits
    with similarity.lsh_n_bits(corpus_rows) in a deployment.

    Recall contract: a near-dup pair whose vectors land in different LSH
    buckets is NOT emitted — the standard LSH trade. ``n_tables`` is the
    OR-amplification knob (the minhash banding analog): each extra table
    re-buckets along a different fixed projection (similarity._bucket_t)
    and a pair is a candidate if it collides in ANY table, so recall rises
    monotonically with n_tables at n_tables× the candidate-generation
    cost — tunable without switching to operators/ivf.py's
    trained-centroid blocking. Candidates are deduped across tables
    BEFORE the exact-cosine verify, so a pair near in several tables is
    verified once. Input needs (vec_id, label, embedding).
    """
    if not 1 <= n_tables <= 32:
        # 0 would silently emit ZERO candidates (the worst failure mode a
        # dedup operator can have) and >32 cycles _bucket_t's mod-32
        # rotation - table 32 IS table 0, linear cost for zero recall.
        raise ValueError(f"n_tables must be in [1, 32], got {n_tables}")
    if n_tables == 1:
        # lazy checkpoint (same as the multi-table path): the pair join's
        # two sides otherwise each carry the norm+bucket HOF subtree
        # through Catalyst; the GATE path goes further with the eager
        # session-cached _emb_projection
        return _pairs_from_projection(
            _normed_bucketed(emb, n_bits).localCheckpoint(eager=False), threshold
        )
    return _pairs_multi_table(emb, threshold, n_bits, n_tables)


def _pairs_multi_table(
    emb: DataFrame, threshold: float, n_bits: int, n_tables: int
) -> DataFrame:
    """OR-amplified candidate generation: explode each vector into its
    n_tables (t, bucket) rows, self-equi-join on (label, t, bucket) — one
    join, not n_tables unioned joins, so the projection subtree is built
    once — dedup the (v1, v2) pair set, then verify exact cosine with the
    vectors carried through the join (no second corpus join)."""
    from .similarity import _bucket_t

    proj = _normed_bucketed(emb, n_bits)
    bt = proj.select(
        "vec_id",
        "label",
        "e",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _bucket_t(F.col("e"), n_bits, t).alias("bkt"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "label", "e", "nrm", F.col("b.t").alias("t"), F.col("b.bkt").alias("bkt"))
    # Lazy checkpoint: without it the self-join's two branches each carry
    # the n_tables × n_bits bucket HOF subtree through analysis — the plan
    # duplication _emb_projection exists to avoid; eager=False keeps plan
    # construction side-effect-free and shares one leaf across both sides.
    bt = bt.localCheckpoint(eager=False)
    a = bt.select(
        F.col("vec_id").alias("v1"), "label", "t", "bkt",
        F.col("e").alias("e1"), F.col("nrm").alias("n1"),
    )
    b = bt.select(
        F.col("vec_id").alias("v2"), "label", "t", "bkt",
        F.col("e").alias("e2"), F.col("nrm").alias("n2"),
    )
    cand = (
        a.join(b, ["label", "t", "bkt"])
        .filter(F.col("v1") < F.col("v2"))
        # cross-table dedup BEFORE the exact-cosine verify: group by the
        # pair key (payload columns ride along — functionally dependent)
        .groupBy("v1", "v2", "label", "e1", "n1", "e2", "n2")
        .agg(F.count(F.lit(1)).alias("_ntab"))
    )
    dot = F.aggregate(
        F.zip_with("e1", "e2", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        cand.withColumn("cosine", F.round(dot / (F.col("n1") * F.col("n2")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("v1", "v2", "label", "cosine")
        .orderBy("v1", "v2")
    )


def _normed_bucketed(emb: DataFrame, n_bits: int) -> DataFrame:
    """(vec_id, label, e, nrm, bucket): norm and sign-LSH bucket computed
    ONCE per vector — the projection both sides of the pair join read."""
    from .similarity import _bucket

    emb = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    sq = F.aggregate(F.transform("e", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    return emb.withColumn("nrm", F.sqrt(sq)).withColumn(
        "bucket", _bucket(F.col("e"), n_bits)
    )


def _pairs_from_projection(emb: DataFrame, threshold: float) -> DataFrame:
    """Within-(label, bucket) pair join + exact cosine over a normed/
    bucketed projection (see _normed_bucketed)."""
    a = emb.select(
        F.col("vec_id").alias("v1"), "label", "bucket", F.col("e").alias("e1"),
        F.col("nrm").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"), "label", "bucket", F.col("e").alias("e2"),
        F.col("nrm").alias("n2"),
    )
    dot = F.aggregate(
        F.zip_with("e1", "e2", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        a.join(b, ["label", "bucket"])
        .filter(F.col("v1") < F.col("v2"))
        .withColumn("cosine", F.round(dot / (F.col("n1") * F.col("n2")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("v1", "v2", "label", "cosine")
        .orderBy("v1", "v2")
    )


_EMB_PROJ_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def _emb_projection(spark: SparkSession, sf_dir: str, n_bits: int) -> DataFrame:
    """Session-materialized normed/bucketed embedding projection (the
    shingle_index pattern): the self-join's two sides read one checkpointed
    leaf instead of each re-running the cast + norm + n_bits hyperplane
    dots — and Catalyst analyzes the big HOF expression tree once, not
    once per join side (the r03 wall-time jump was plan-side, not data)."""
    from ..io import session_cached

    def _build() -> DataFrame:
        emb = load_table_parallel(spark, sf_dir, "embeddings")
        return _normed_bucketed(emb, n_bits).localCheckpoint(eager=True)

    return session_cached(_EMB_PROJ_CACHE, spark, (sf_dir, n_bits), _build)


_EMB_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _emb_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized verified embedding near-dup pair table — the
    minhash_pairs discipline for the embedding family: the pair gate AND
    semantic_dedup's components both consume this one landed table instead
    of each re-running the (label, bucket) self-join + cosine verify."""
    from ..io import session_cached

    def _build() -> DataFrame:
        return _pairs_from_projection(
            _emb_projection(spark, sf_dir, EMB_N_BITS), COSINE_DUP_THRESHOLD
        ).localCheckpoint(eager=True)

    return session_cached(_EMB_PAIRS_CACHE, spark, (sf_dir,), _build)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate wrapper over embedding_cosine_pairs. The 0.25 threshold is tuned
    to the synthetic embeddings' cosine distribution (sf0.01 within-label
    max ≈ 0.475, 99.9th pct ≈ 0.373) so the gate emits a NON-EMPTY
    hash-checked pair set — an r02 lesson: at 0.45 both engines emitted
    zero rows and the gate certified only that 0 == 0."""
    return _emb_pairs_cached(spark, sf_dir).orderBy("v1", "v2")


def _emb_bucket_sql(n_bits: int) -> str:
    from .similarity import _bucket_sql

    return f"""
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce,
         {_bucket_sql(n_bits, col="CAST(embedding AS DOUBLE[])")} AS bucket
  FROM embeddings
"""


DEDUP_EMBEDDING_SQL = f"""
WITH e AS ({_emb_bucket_sql(EMB_N_BITS)})
SELECT a.vec_id AS v1, b.vec_id AS v2, a.label,
       ROUND(list_cosine_similarity(a.ce, b.ce), 4) AS cosine
FROM e a
JOIN e b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.ce, b.ce), 4) >= {COSINE_DUP_THRESHOLD}
ORDER BY v1, v2
"""


def connected_components(
    edges: DataFrame,
    max_iter: int = 32,
    own_edges: bool = True,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation (hash-to-min): each node's label starts as its own
    id; every round each node takes the min of its own label and its
    neighbors' labels; converged when no label changes.

    Input: (d1, d2) pairs. Output: (doc_id, cluster_id) for every node that
    appears in an edge — cluster_id is the minimum doc_id reachable in the
    component.

    Scale shape: each round is ONE shuffle join (edges ⋈ labels on the
    neighbor key) + ONE min-aggregate — no driver-side data, only a scalar
    convergence count per round. Rounds needed = component diameter; dedup
    graphs are piles of near-cliques (diameter 2-3), so 3-4 rounds cover a
    real corpus. For adversarial long-chain graphs, the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond") drops rounds to O(log n) — implemented as
    `connected_components_twophase` (equivalence pinned in tests), swap in
    if the edge set ever carries long chains. Lineage is
    truncated each round with localCheckpoint (cluster analog: reliable
    checkpoint / intermediate table), or the plan tree doubles per round.

    The returned frame is a lazy projection over the CONVERGED labels
    checkpoint, which the caller's io scope owns.

    `own_edges=False` means the caller already holds an eager checkpoint
    of `edges` and keeps ownership (no re-checkpoint here, no free on
    either exit path) — the dedup_clusters gate shares one edge
    checkpoint between this and `graph.pagerank`.
    """
    # Materialize the edge list ONCE up front: every union branch / round
    # below re-reads stored blocks instead of re-running the (potentially
    # expensive) pair-generation subtree per reference.
    if own_edges:
        edges = edges.localCheckpoint(eager=True)
    sym = symmetric_edges(edges)
    labels_ck = checkpoint(
        sym.select("node").distinct().withColumn("lbl", F.col("node"))
    )
    labels = labels_ck
    lbl_type = dict(labels.dtypes)["lbl"]
    for _ in range(max_iter):
        nbr_lbl = (
            sym.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "lbl")
        )
        # r13 optimization (guide §2.4 — remove shuffles outright): carry
        # each node's PREVIOUS label through the min-aggregate as a tagged
        # `old` column (labels has exactly one row per node, so max(old)
        # recovers it), instead of joining new vs old labels afterwards.
        # The convergence check becomes a narrow filter-count over the
        # round's checkpoint — one shuffle join per round removed, same
        # labels, same `changed` count.
        new_ck = checkpoint(
            nbr_lbl.withColumn("own", F.lit(None).cast(lbl_type))
            .unionByName(
                labels.select("node", "lbl", F.col("lbl").alias("own"))
            )
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("own").alias("old"))
        )
        changed = new_ck.filter(F.col("lbl") != F.col("old")).count()
        # the superseded round's label checkpoint is never read again —
        # free it now instead of pinning O(rounds * nodes) storage until
        # driver GC + ContextCleaner (review r08, io.free_local_checkpoint).
        # labels_ck is the CHECKPOINTED handle (labels itself may be a
        # projection over it, which free_local_checkpoint cannot reach).
        free_local_checkpoint(labels_ck)
        labels_ck = new_ck
        labels = new_ck.select("node", "lbl")
        if changed == 0:
            break
    else:
        # Silent non-convergence would masquerade as a valid clustering —
        # labels are only partial fixpoints after max_iter rounds. Free
        # the still-live checkpoints first: a caller catching this to
        # retry (e.g. with the twophase variant) should not retry on a
        # heap pinning the dead state (review r08).
        free_local_checkpoint(labels_ck)
        if own_edges:
            free_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the round budget); raise max_iter "
            "or use connected_components_twophase (O(log n) rounds)"
        )
    if own_edges:
        free_local_checkpoint(edges)  # converged: the edge checkpoint is done
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


_LABELS_CACHE: dict = {}


def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) near-dup component labels only — the entry
    point for consumers that need the membership and nothing else
    (corpus assembly's keeper selection): no pagerank rounds, no sizes
    window, no rank join (review r10 — the gate's centrality fold was
    making every assemble_corpus call pay 5 rank iterations it then
    projected away).

    Session-cached (the silver-table discipline): a pure function of
    (session, sf_dir), and un-cached every assemble_corpus call would
    re-run the multi-round hash-to-min loop per call (review r10)."""
    from ..io import session_cached

    return session_cached(
        _LABELS_CACHE,
        spark,
        (sf_dir,),
        lambda: connected_components(
            minhash_pairs(spark, sf_dir).select("d1", "d2")
        ).localCheckpoint(eager=True),
    )


def _cluster_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup_clusters gate's iterative core — connected-component
    labels ⋈ pagerank ⋈ similarity-weighted pagerank over the verified
    MinHash pair graph — computed PER CALL (r14, VERDICT r13 item 1: the
    r13 session checkpoint of this join memoized the gate's result grain,
    so warm bench samples timed a checkpoint scan instead of the declared
    fixed-point loops).

    The three consumers still run on concurrent driver threads over ONE
    eager edge checkpoint (own_edges=False) — the gate pays the slowest
    loop, not the sum (measured 3.56 -> ~2.3 s at sf0.1, r11). The
    consumers' final converged checkpoints back the returned frame (lazy
    result): each thread runs in a copy of the caller's context, so they
    land in the caller's io scope; each loop's superseded per-round
    checkpoints are freed inside the loops themselves.
    """
    # jaccard ppm rides the edge checkpoint as the weight column:
    # round(jaccard*1e6) is exact in both engines because the 6-decimal
    # jaccard doubles are already hash-certified identical
    # (dedup_near_pairs).
    edges = (
        minhash_pairs(spark, sf_dir)
        .select(
            "d1",
            "d2",
            F.round(F.col("jaccard") * 1_000_000).cast("long").alias("w_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    try:
        from concurrent.futures import ThreadPoolExecutor
        from contextvars import copy_context

        with ThreadPoolExecutor(max_workers=3) as ex:
            f_lbl = ex.submit(
                copy_context().run,
                connected_components,
                edges.select("d1", "d2"),
                own_edges=False,
            )
            f_rk = ex.submit(
                copy_context().run, pagerank, edges.select("d1", "d2"), own_edges=False
            )
            f_rw = ex.submit(copy_context().run, pagerank_weighted, edges, own_edges=False)
            labels = f_lbl.result()
            ranks = f_rk.result()
            ranks_w = f_rw.result().withColumnRenamed(
                "pagerank_ppb", "pagerank_w_ppb"
            )
        return labels.join(ranks, "doc_id").join(ranks_w, "doc_id")
    finally:
        # All consumers are fully materialized (their results are eager
        # checkpoints), so the shared edge blocks are dead either way.
        free_local_checkpoint(edges)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    MinHash-LSH pair graph, plus per-cluster size — the step a training-data
    pipeline runs after pair generation to keep ONE canonical document per
    duplicate cluster (cluster_id doubles as the keeper's doc_id).

    The DuckDB oracle computes the same closure with a recursive CTE over
    the identical pair SQL, so the check is exact end-to-end: shingles →
    signatures → LSH candidates → verified pairs → components.

    r10: the gate also certifies `graph.pagerank` — fixed-point integer
    centrality over the SAME edge checkpoint — plus `keeper_by_rank`, the
    centrality-argmax canonical-doc flag (highest pagerank in the
    cluster, ties to the lowest doc_id): the selection policy a curation
    pipeline uses when "most central member" beats "lowest id".

    r11: also certifies `graph.pagerank_weighted` with REAL similarity
    weights — the verified pair table's jaccard scaled to exact integer
    ppm — as `pagerank_w_ppb` + `keeper_by_weighted_rank`: mass flows
    proportionally to similarity, so the weighted keeper is the member
    most STRONGLY similar to its cluster, not merely the most connected.
    """
    core = _cluster_core(spark, sf_dir)
    # Per-cluster size via a window — cluster count is O(dup_rate * n)
    # (corpus cardinality on a dup-heavy crawl), so no broadcast of a sizes
    # table; the COUNT and both rank-argmaxes land in ONE cluster_id shuffle
    # of the labels⋈ranks table (same-key windows share the exchange).
    w = Window.partitionBy("cluster_id")
    w_rank = w.orderBy(F.desc("pagerank_ppb"), F.asc("doc_id"))
    w_rank_w = w.orderBy(F.desc("pagerank_w_ppb"), F.asc("doc_id"))
    return (
        core.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "keeper_by_rank", (F.row_number().over(w_rank) == 1).cast("long")
        )
        .withColumn(
            "keeper_by_weighted_rank",
            (F.row_number().over(w_rank_w) == 1).cast("long"),
        )
        .select(
            "cluster_id",
            "doc_id",
            "cluster_size",
            "pagerank_ppb",
            "keeper_by_rank",
            "pagerank_w_ppb",
            "keeper_by_weighted_rank",
        )
        .orderBy("cluster_id", "doc_id")
    )


# pairs/e are multiply-referenced (e by the closure AND every pagerank
# round) — MATERIALIZED, or DuckDB re-inlines the full LSH pair pipeline
# per reference (the r09 25s->0.17s lesson). The pr_* CTE chain comes
# from graph.pagerank_sql_ctes, the single source the Spark loop and the
# oracle both derive their constants from (twins can't drift).
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT d1, d2, CAST(ROUND(jaccard * 1000000) AS BIGINT) AS w
  FROM ({DEDUP_MINHASH_SQL.replace("ORDER BY d1, d2", "")}) p
),
e AS MATERIALIZED (
  SELECT d1 AS node, d2 AS nbr FROM pairs
  UNION
  SELECT d2 AS node, d1 AS nbr FROM pairs
),
we AS MATERIALIZED (
  SELECT d1 AS node, d2 AS nbr, w FROM pairs
  UNION ALL
  SELECT d2 AS node, d1 AS nbr, w FROM pairs
),
reach(node, nbr) AS (
  SELECT node, nbr FROM e
  UNION
  SELECT r.node, e.nbr FROM reach r JOIN e ON r.nbr = e.node
),
lbl AS (
  SELECT node AS doc_id, LEAST(node, MIN(nbr)) AS cluster_id
  FROM reach GROUP BY node
),
{pagerank_sql_ctes()},
{pagerank_weighted_sql_ctes()}
SELECT l.cluster_id, l.doc_id,
       COUNT(1) OVER (PARTITION BY l.cluster_id) AS cluster_size,
       p.r AS pagerank_ppb,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY l.cluster_id
              ORDER BY p.r DESC, l.doc_id ASC
            ) = 1 AS BIGINT) AS keeper_by_rank,
       pw.r AS pagerank_w_ppb,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY l.cluster_id
              ORDER BY pw.r DESC, l.doc_id ASC
            ) = 1 AS BIGINT) AS keeper_by_weighted_rank
FROM lbl l
JOIN {PAGERANK_FINAL_CTE} p ON p.node = l.doc_id
JOIN {PAGERANK_W_FINAL_CTE} pw ON pw.node = l.doc_id
ORDER BY cluster_id, doc_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup driver gate, two union-tagged legs since r11 on
    (leg, vec_id, cluster_id, kept):

      lsh   (certified r06) pairs from the deterministic sign-LSH
            blocking → connected components → one kept vector per
            semantic cluster.
      ivf   (r11 rotation — the handoff's open candidate) the SAME
            composition over IVF-cell-blocked pairs from the
            cross-engine-EXACT quantizer (ivf.ivf_build_exact: 6-decimal
            half-away rounding of every assignment distance and centroid
            mean, cid tie-breaks — see the exact-family comment in
            ivf.py). The oracle TRAINS THE SAME MODEL IN SQL
            (ivf_exact_sql_ctes' fixed-depth Lloyd CTE chain — no literal
            centroids, so the string stays SF-generic) and closes the
            pair graph with a second recursive CTE. Bit-equal pair sets
            verified at all three SFs before wiring (21 526 pairs at
            sf0.1).

    Both legs end-to-end exact against DuckDB's recursive-CTE closures
    over the identical pair SQL. The lsh leg reads the session-shared
    embedding pair table; its component rounds, and all of the ivf and
    proto legs, are per-call work owned by the gate's io scope.

    r13 third leg, the step AFTER SemDeDup in the D4 recipe
    (Tirumala et al. 2023):

      proto the density/prototype prune — within each exact-IVF cell,
            drop the DENSITY_PRUNE_PPM fraction of vectors nearest
            their centroid via ivf.density_prune's bounded-histogram
            cutoff (never a per-cell global sort). cluster_id carries
            the cell id; the hash covers every keep/drop bit against
            the ivq_proto CTE twin (ivf_exact_sql_ctes(proto_ppm=...)).
    """
    from .ivf import (
        density_prune,
        ivf_build_exact,
        ivf_near_dup_pairs_exact,
        semantic_dedup,
    )
    from .similarity import _emb

    proj = _emb_projection(spark, sf_dir, EMB_N_BITS)
    lsh = semantic_dedup(
        proj.select("vec_id"), pairs=_emb_pairs_cached(spark, sf_dir)
    ).select(F.lit("lsh").alias("leg"), "vec_id", "cluster_id", "kept")
    # ONE exact-discipline training (bounded collect + driver numpy) per
    # call feeds both the ivf blocking and the proto prune
    emb = _emb(spark, sf_dir)
    cents = ivf_build_exact(emb)
    ivf = semantic_dedup(
        emb.select("vec_id"), pairs=ivf_near_dup_pairs_exact(emb, cents)
    ).select(F.lit("ivf").alias("leg"), "vec_id", "cluster_id", "kept")
    proto = density_prune(emb.select("vec_id", "e"), cents, ordered=False).select(
        F.lit("proto").alias("leg"),
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster_id"),
        "kept",
    )
    return lsh.unionByName(ivf).unionByName(proto).orderBy("leg", "vec_id")


def _semantic_dedup_sql() -> str:
    from .ivf import DENSITY_PRUNE_PPM, ivf_exact_sql_ctes

    return f"""
WITH RECURSIVE sem_pairs AS (
  -- CTE names here must not collide with the embedded pair SQL's own
  -- CTE (named `e`): DuckDB resolves the inner `FROM e` to the OUTER
  -- same-named CTE and the bind fails.
  SELECT v1 AS d1, v2 AS d2
  FROM ({DEDUP_EMBEDDING_SQL.replace("ORDER BY v1, v2", "")}) q
),
sem_edges AS (
  SELECT d1 AS node, d2 AS nbr FROM sem_pairs
  UNION
  SELECT d2 AS node, d1 AS nbr FROM sem_pairs
),
reach(node, nbr) AS (
  SELECT node, nbr FROM sem_edges
  UNION
  SELECT r.node, g.nbr FROM reach r JOIN sem_edges g ON r.nbr = g.node
),
lbl AS (
  SELECT node, LEAST(node, MIN(nbr)) AS cluster_id FROM reach GROUP BY node
),
{ivf_exact_sql_ctes(proto_ppm=DENSITY_PRUNE_PPM)},
iedges AS (
  SELECT v1 AS node, v2 AS nbr FROM ivq_pairs
  UNION
  SELECT v2 AS node, v1 AS nbr FROM ivq_pairs
),
ireach(node, nbr) AS (
  SELECT node, nbr FROM iedges
  UNION
  SELECT r.node, g.nbr FROM ireach r JOIN iedges g ON r.nbr = g.node
),
ilbl AS (
  SELECT node, LEAST(node, MIN(nbr)) AS cluster_id FROM ireach GROUP BY node
)
SELECT 'lsh' AS leg, v.vec_id,
       COALESCE(l.cluster_id, v.vec_id) AS cluster_id,
       v.vec_id = COALESCE(l.cluster_id, v.vec_id) AS kept
FROM embeddings v LEFT JOIN lbl l ON v.vec_id = l.node
UNION ALL
SELECT 'ivf' AS leg, v.vec_id,
       COALESCE(il.cluster_id, v.vec_id) AS cluster_id,
       v.vec_id = COALESCE(il.cluster_id, v.vec_id) AS kept
FROM embeddings v LEFT JOIN ilbl il ON v.vec_id = il.node
UNION ALL
SELECT 'proto' AS leg, vec_id, CAST(cid AS BIGINT) AS cluster_id, kept
FROM ivq_proto
ORDER BY leg, vec_id
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


def register_all() -> None:
    from ..registry import register

    # The signature-only gates (minhash_signatures, simhash_signatures) are
    # deliberately NOT registered: their consumers dedup_minhash_lsh /
    # dedup_simhash subsume them end-to-end, and the driver hash-checks at
    # most 50 queries. Signature parity stays pinned in tests/test_dedup.py.
    register("dedup_exact", q_dedup_exact, DEDUP_EXACT_SQL)
    # dedup_minhash_lsh + dedup_ngram_jaccard merged into one union-tagged
    # gate (r05 rotation — both legs read the shared shingle index); the
    # standalone operators stay the library API with oracle parity in
    # tests/test_dedup.py.
    register("dedup_near_pairs", q_dedup_near_pairs, DEDUP_NEAR_PAIRS_SQL)
    register("dedup_simhash", q_dedup_simhash, DEDUP_SIMHASH_SQL)
    register("dedup_embedding_cosine", q_dedup_embedding_cosine, DEDUP_EMBEDDING_SQL)
    register("dedup_clusters", q_dedup_clusters, DEDUP_CLUSTERS_SQL)
    # The r05 rotation freed this slot for semantic_dedup but never actually
    # registered it (the registry sat at 48/50 — VERDICT r05); certified r06.
    register("semantic_dedup", q_semantic_dedup, SEMANTIC_DEDUP_SQL)


def connected_components_twophase(edges: DataFrame, max_iter: int = 32) -> DataFrame:
    """Connected components by the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): same join+min-aggregate primitives as `connected_components`,
    but converges in O(log n) rounds even on long-chain graphs where plain
    min-label propagation needs O(diameter) rounds — the swap-in for edge
    sets that may carry adversarial topology.

    large-star: every neighbor LARGER than u re-attaches to
    m(u) = min(N(u) ∪ {u}); small-star: every neighbor ≤ u (and u itself)
    attaches to m(u). Both preserve connectivity; alternating them
    contracts every component to a star on its minimum node. Output:
    (doc_id, cluster_id) for every non-isolated node, identical to
    `connected_components`.
    """

    def _with_min(sym: DataFrame) -> DataFrame:
        m = sym.groupBy("u").agg(F.min("v").alias("mv"))
        return sym.join(m, "u").withColumn("m", F.least("mv", F.col("u"))).drop("mv")

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    e = (
        edges.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # large-star
        ls = _with_min(_sym(e))
        e1 = (
            ls.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the large-star output
        ss = _with_min(_sym(e1))
        e2 = (
            ss.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(ss.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged when the edge set is stable (scalar-only check)
        changed = e2.exceptAll(e).count() + e.exceptAll(e2).count()
        free_local_checkpoint(e)  # superseded round's edges (review r08)
        e = e2
        if changed == 0:
            break
    else:
        free_local_checkpoint(e)  # don't leave the dead state pinned (r08)
        raise RuntimeError(
            f"connected_components_twophase did not converge in {max_iter} "
            "rounds — O(log n) contraction should need far fewer; the edge "
            "set is pathological or max_iter is set unrealistically low"
        )
    # final star edges point child -> root; roots label themselves
    child = e.select(
        F.greatest("a", "b").alias("doc_id"), F.least("a", "b").alias("cluster_id")
    )
    roots = child.select(F.col("cluster_id").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return child.unionByName(roots).distinct()
