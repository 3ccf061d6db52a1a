"""Similarity search over the embeddings table (BASELINE.json north star:
"similarity search").

Four tiers (gates: similarity_topk = exact + lsh legs, ivf_ann_topk,
knn_label_vote):
  cosine_topk       brute-force exact top-k: broadcast the (small) query set
                    against the full corpus — the correctness baseline. At
                    100 TB the corpus side stays partitioned; only queries
                    broadcast.
  ann_lsh_topk      sign-bit LSH buckets (random-projection flavor with
                    deterministic coordinate-pair projections): candidates
                    come from a bucket equi-join, shrinking the pair space
                    by 2**n_bits — n_bits sized from corpus cardinality via
                    lsh_n_bits so the within-bucket join stays linear-ish.
  ivf_ann_topk      trained-centroid IVF probe-cell search (operators/ivf.py)
                    checked against the exact top-k via a recall envelope —
                    the data-adaptive 100 TB ANN path, now hash-checked.
  knn_label_vote    k-NN classification on top of the exact top-k.

Cosine is computed over array<double> with a sequential fold (zip_with +
aggregate) — bit-identical to DuckDB's list_cosine_similarity loop — and
rounded to 6 decimals before ranking; ties broken by neighbor id so top-k
membership is deterministic in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import checkpoint, load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_TOP_K = 3


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with the L2 norm precomputed once per vector — the pair
    scorer then does one fold per pair instead of three. Same arithmetic as
    DuckDB's list_cosine_similarity (sequential double fold), so rounding
    at 6 decimals is engine-stable."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    sq = F.aggregate(
        F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    return emb.withColumn("nrm", F.sqrt(sq))


def _dot(e1: Column, e2: Column) -> Column:
    return F.aggregate(F.zip_with(e1, e2, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)


def _cosine_pre(e1: Column, e2: Column, n1: Column, n2: Column) -> Column:
    return F.round(_dot(e1, e2) / (n1 * n2), 6)


_COS_SQL = (
    "ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),"
    " CAST(c.embedding AS DOUBLE[])), 6)"
)


_EXACT_TOPK_CACHE: dict[tuple[str, str], DataFrame] = {}


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for the query vectors.

    Three gates consume this subtree (similarity_topk's exact leg, the
    knn vote, and ivf_ann_topk's recall reference), so the N_QUERIES*TOP_K
    result rows are checkpointed once per (session, sf) —
    the same silver-table amortization as the jira family's _issues."""
    from ..io import session_cached

    def _build() -> DataFrame:
        return _cosine_topk_uncached(spark, sf_dir)

    return session_cached(_EXACT_TOPK_CACHE, spark, (sf_dir,), _build)


def _cosine_topk_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = emb.select(
        F.col("vec_id").alias("nid"), F.col("label"), F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "label",
            _cosine_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return checkpoint(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "nid", "label", "cosine")
        .orderBy("qid", "rank")
    )


COSINE_TOPK_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, c.label, {_COS_SQL} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT qid, nid, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid, rank, nid, label, cosine FROM ranked
WHERE rank <= {TOP_K}
ORDER BY qid, rank
"""


ANN_N_BITS = 6  # 64 buckets at the gate's corpus size; see lsh_n_bits


def lsh_n_bits(corpus_rows: int, target_bucket_rows: int = 4096) -> int:
    """Bucket-width contract: the bucket COUNT must grow with the corpus so
    the within-bucket candidate join stays linear-ish. n_bits such that
    corpus_rows / 2**n_bits <= target_bucket_rows (min 1, max 32 — limited
    by the 64-dim coordinate-pair projection below). At 100 TB you size
    target_bucket_rows to what one executor can pair-score; for exact-recall
    ANN at that scale use operators/ivf.py instead (probe-cell join, trained
    centroids)."""
    import math

    return max(1, min(32, math.ceil(math.log2(max(2, corpus_rows) / target_bucket_rows))))


def _bucket_t(e: Column, n_bits: int, t: int) -> Column:
    """Table t of the deterministic sign-LSH bucket FAMILY (OR-amplification
    support): bit i is the sign of e[i] - e[32 + ((i + t) mod 32)] — each
    table pairs the low coordinates against a t-rotated slice of the high
    coordinates, so distinct tables project along distinct (still fixed,
    data-independent) directions and a pair missed by one table's buckets
    can collide in another's. t=0 is exactly the single-table _bucket.
    Requires dim >= 64 (the rotation reads high indices 33..64)."""
    if not 1 <= n_bits <= 32:
        # 0 bits silently collapses every vector into bucket 0 — the
        # within-block join degrades to the full quadratic self-join the
        # blocking exists to prevent; > 32 reads element_at past the
        # 64-dim layout (null under non-ANSI → silently wrong buckets)
        raise ValueError(f"n_bits must be in [1, 32], got {n_bits}")
    total = F.lit(0)
    for i in range(n_bits):
        total = total + F.when(
            F.element_at(e, i + 1) > F.element_at(e, 33 + (i + t) % 32), F.lit(1 << i)
        ).otherwise(F.lit(0))
    return total.alias("bucket")


def _bucket(e: Column, n_bits: int = ANN_N_BITS) -> Column:
    """Deterministic n_bits-wide sign-LSH bucket. Bit i is the sign of the
    (fixed, data-independent) projection e[i] - e[32+i] — the coordinate-pair
    flavor of random-projection LSH, chosen so the DuckDB oracle can
    replicate it bit-for-bit (see _bucket_sql). Requires dim >= 32 + n_bits
    (the highest 1-based index read is 32 + n_bits, so n_bits=32 —
    lsh_n_bits's documented maximum — is exactly legal at dim 64)."""
    return _bucket_t(e, n_bits, 0)


def _bucket_t_sql(n_bits: int, t: int, col: str = "ce") -> str:
    """DuckDB twin of _bucket_t — generated from the same (n_bits, t)."""
    terms = "\n   + ".join(
        f"CASE WHEN list_extract({col}, {i + 1})"
        f" > list_extract({col}, {33 + (i + t) % 32})"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(n_bits)
    )
    return f"({terms})"


def _bucket_sql(n_bits: int = ANN_N_BITS, col: str = "ce") -> str:
    """DuckDB twin of _bucket — generated from the same n_bits so the two
    engines can never drift apart on bucket width."""
    return _bucket_t_sql(n_bits, 0, col)


_BUCKET_SQL = _bucket_sql()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The bucket equi-join replaces the cross join — the plan shape that
    survives scale-up PROVIDED bucket count grows with corpus size: size
    n_bits with lsh_n_bits(corpus_rows) in a deployment (the gate pins
    ANN_N_BITS=6 so the oracle SQL is a fixed string). Recall is the
    standard LSH trade; the exact-recall scale path is operators/ivf.py.
    """
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn"), "bucket"
    )
    c = emb.select(
        F.col("vec_id").alias("nid"), F.col("e").alias("ce"), F.col("nrm").alias("cn"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "bucket",
            "nid",
            _cosine_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LSH_TOP_K)
        .select("qid", "bucket", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
         {_BUCKET_SQL} AS bucket
  FROM (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings) t0
), scored AS (
  SELECT q.vec_id AS qid, q.bucket, c.vec_id AS nid,
         ROUND(list_cosine_similarity(q.ce, c.ce), 6) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT qid, bucket, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid, bucket, rank, nid, cosine FROM ranked
WHERE rank <= {LSH_TOP_K}
ORDER BY qid, rank
"""


def ann_lsh_topk_multi(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = 2,
    n_bits: int = ANN_N_BITS,
    top_k: int = LSH_TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """OR-amplified LSH top-k (the ANN analog of
    dedup.embedding_cosine_pairs(n_tables=...)): a corpus vector is a
    candidate for a query if they share a bucket in ANY of the n_tables
    sign-LSH tables (_bucket_t family), so recall rises monotonically with
    n_tables at n_tables× the candidate-generation cost — the tunable
    middle ground between one bucket table and IVF. Candidates are deduped
    across tables BEFORE scoring; one exploded (t, bucket) equi-join, not
    n_tables unioned joins. Returns (qid, rank, nid, cosine)."""
    if not 1 <= n_tables <= 32:
        # >32 cycles _bucket_t's mod-32 rotation (duplicate tables, zero
        # recall gain); 0 would silently return an empty result
        raise ValueError(f"n_tables must be in [1, 32], got {n_tables}")
    emb = _emb(spark, sf_dir)
    bt = emb.select(
        "vec_id",
        "e",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), _bucket_t(F.col("e"), n_bits, t).alias("bkt")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "e", "nrm", F.col("b.t").alias("t"), F.col("b.bkt").alias("bkt"))
    # Lazy checkpoint: the self-join's two sides otherwise each carry the
    # full n_tables × n_bits bucket-expression subtree through Catalyst —
    # the exact plan-analysis duplication dedup._emb_projection exists to
    # avoid. eager=False defers materialization to the first job (no
    # plan-construction side effect) and both branches share the one leaf.
    bt = bt.localCheckpoint(eager=False)
    q = bt.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn"),
        "t", "bkt",
    )
    c = bt.select(
        F.col("vec_id").alias("nid"), F.col("e").alias("ce"), F.col("nrm").alias("cn"),
        "t", "bkt",
    )
    cand = (
        F.broadcast(q)
        .join(c, ["t", "bkt"])
        .filter(F.col("qid") != F.col("nid"))
        # cross-table dedup before the exact cosine (payloads ride along —
        # functionally dependent on the pair)
        .groupBy("qid", "nid", "qe", "qn", "ce", "cn")
        .agg(F.count(F.lit(1)).alias("_ntab"))
    )
    scored = cand.select(
        "qid",
        "nid",
        _cosine_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


#: RRF rank constant (Cormack/Clarke/Buettcher's k=60 convention).
#: Rounding note (corrected, review r10): Spark's ROUND and DuckDB's
#: ROUND(DOUBLE) are BOTH half-away-from-zero for positive values, so
#: the two ENGINES agree even at a .5 boundary — it is PYTHON's
#: banker's round (used by hand-computed test oracles) that would
#: disagree there. At the gate's parameters no boundary exists anyway:
#: 1e6/(61..65) never lands on .5 (64 divides 1e6 exactly). A caller
#: choosing k_rrf/top_k where 1e6/(k+rank) can hit .5 must not build a
#: test oracle with Python round().
RRF_K = 60


def hybrid_rrf_topk(
    lex: DataFrame, sem: DataFrame, top_k: int = TOP_K, k_rrf: int = RRF_K
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic ranked list —
    the standard hybrid-retrieval merge a curation/retrieval pipeline
    runs over BM25 and embedding neighbors (dedup catches near-copies,
    embeddings catch paraphrases, BM25 catches keyword overlap; RRF is
    how the branches COMBINE): score(q, d) = Σ_branches
    round(1e6 / (k_rrf + rank_branch(d))), summed only over branches
    where d appears. Contributions are integers BEFORE the sum
    (the bm25/unigram quantization trick), so the cross-engine
    aggregation is order-independent and the DuckDB twin hashes
    identically.

    Inputs are ranked lists (qid, rank, did|nid, ...); returns
    (qid, rank, did, rrf_e6), rank re-assigned by fused score with
    did ASC tie-break. Scale shape: the expensive work lives in the
    BRANCHES — the fusion itself is a union of two n_queries×k-row
    lists, one (qid, did) aggregation and a per-query top-k window;
    at 100 TB both branch lists are already tiny."""
    def contrib(branch: DataFrame) -> DataFrame:
        id_col = "did" if "did" in branch.columns else "nid"
        return branch.select(
            "qid",
            F.col(id_col).alias("did"),
            F.round(F.lit(1_000_000.0) / (F.col("rank") + F.lit(k_rrf)))
            .cast("bigint")
            .alias("c"),
        )

    fused = (
        contrib(lex)
        .unionByName(contrib(sem))
        .groupBy("qid", "did")
        .agg(F.sum("c").cast("bigint").alias("rrf_e6"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rrf_e6"), F.asc("did"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "did", "rrf_e6")
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: exact brute-force top-k, LSH-bucketed approximate top-k, and
    the k-NN majority-label vote as union-tagged legs on a common
    (op, qid, rank, nid, aux, cosine) shape — aux carries the neighbor
    label on the exact leg, the shared LSH bucket on the approximate leg,
    and the vote count on the knn leg (whose nid is the predicted label).
    The knn leg re-reads the session-cached exact top-k, so the r05 merge
    adds one tiny aggregation over already-materialized rows; the per-tier
    builders stay the library API (q_cosine_topk, q_ann_lsh_topk,
    q_knn_label_vote).
    """
    exact = q_cosine_topk(spark, sf_dir).select(
        F.lit("exact").alias("op"),
        "qid",
        "rank",
        "nid",
        F.col("label").cast("bigint").alias("aux"),
        "cosine",
    )
    lsh = q_ann_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("op"),
        "qid",
        "rank",
        "nid",
        F.col("bucket").cast("bigint").alias("aux"),
        "cosine",
    )
    knn = q_knn_label_vote(spark, sf_dir).select(
        F.lit("knn").alias("op"),
        "qid",
        F.lit(0).alias("rank"),
        F.col("pred_label").cast("bigint").alias("nid"),
        F.col("votes").cast("bigint").alias("aux"),
        F.lit(0.0).alias("cosine"),
    )
    return exact.unionAll(lsh).unionAll(knn).orderBy("op", "qid", "rank")


SIMILARITY_TOPK_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, c.label, {_COS_SQL} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), exact_ranked AS (
  SELECT qid, nid, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
), b AS (
  SELECT vec_id, ce, {_BUCKET_SQL} AS bucket
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings) t0
), lsh_scored AS (
  SELECT q.vec_id AS qid, q.bucket, c.vec_id AS nid,
         ROUND(list_cosine_similarity(q.ce, c.ce), 6) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), lsh_ranked AS (
  SELECT qid, bucket, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM lsh_scored
)
SELECT 'exact' AS op, qid, rank, nid, CAST(label AS BIGINT) AS aux, cosine
FROM exact_ranked WHERE rank <= {TOP_K}
UNION ALL
SELECT 'lsh' AS op, qid, rank, nid, CAST(bucket AS BIGINT) AS aux, cosine
FROM lsh_ranked WHERE rank <= {LSH_TOP_K}
UNION ALL
SELECT 'knn' AS op, qid, 0 AS rank, CAST(pred_label AS BIGINT) AS nid,
       CAST(votes AS BIGINT) AS aux, 0.0 AS cosine
FROM (
  SELECT qid, label AS pred_label, votes,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn
  FROM (
    SELECT qid, label, COUNT(1) AS votes
    FROM exact_ranked WHERE rank <= {TOP_K}
    GROUP BY qid, label
  ) v
) r WHERE rn = 1
ORDER BY op, qid, rank
"""


# One gate reads this, but deleting it would move Lloyd training into every
# ivf_ann_topk call, which the benchmark's gate_suite times warm.
_IVF_CENTROIDS: dict[tuple[str, str], DataFrame] = {}

IVF_K = 16
IVF_NPROBE = 2
IVF_MIN_HITS = 2  # envelope: >= 2 of TOP_K exact neighbors recovered


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the trained-centroid ANN scale path (operators/ivf.py —
    SURVEY §2.11 [X]): IVF search (k=16 Lloyd's coarse quantizer, nprobe=2
    probe-cell equi-join) next to the exact brute-force top-k.

    Output per query: the exact top-1 neighbor (hash-checked real values —
    SQL-expressible) plus `ivf_recall_ok`, the error-envelope verdict that
    the IVF candidate set recovered >= IVF_MIN_HITS of the TOP_K exact
    neighbors. DuckDB emits literal TRUE, so the row only hash-matches if
    the trained index actually met the envelope — same pattern as the
    approx_percentile / HLL++ gates. The observed recall@5 is 0.6-1.0 per
    query at sf0.01/sf0.1 (mean 0.82-0.9); the envelope at 2/5 leaves
    seed-regeneration margin, and the tighter aggregate bound is pinned in
    tests/test_ivf.py."""
    from .ivf import ivf_build, ivf_probe_assign, ivf_search

    emb = _emb(spark, sf_dir)
    from ..io import session_cached

    centroids = session_cached(
        _IVF_CENTROIDS, spark, (sf_dir,), lambda: ivf_build(emb, k=IVF_K, n_iter=4)
    )
    # The ranked assignment runs PER CALL (r14, VERDICT r13 item 1: the
    # r13 session checkpoint of it memoized the gate's probe work). The
    # precomputed-`assigned` path is still the right call shape: ONE
    # centroid collect feeds one assignment map serving both join sides,
    # instead of ivf_search's assigned=None branch collecting the
    # centroid rows twice (once for the literal-k check, once inside
    # ivf_probe_assign).
    assigned = ivf_probe_assign(emb, centroids, nprobe=IVF_NPROBE)
    got = ivf_search(
        emb,
        centroids,
        n_queries=N_QUERIES,
        top_k=TOP_K,
        nprobe=IVF_NPROBE,
        assigned=assigned,
    )
    exact = q_cosine_topk(spark, sf_dir)
    hits = (
        exact.join(got.select("qid", "nid"), ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    top1 = exact.filter(F.col("rank") == 1).select(
        "qid", F.col("nid").alias("top1_nid"), F.col("cosine").alias("top1_cosine")
    )
    return (
        top1.join(hits, "qid", "left")
        .select(
            "qid",
            "top1_nid",
            "top1_cosine",
            (F.coalesce(F.col("hits"), F.lit(0)) >= IVF_MIN_HITS).alias("ivf_recall_ok"),
        )
        .orderBy("qid")
    )


IVF_ANN_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, {_COS_SQL} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid, nid AS top1_nid, cosine AS top1_cosine, TRUE AS ivf_recall_ok
FROM ranked WHERE rank = 1
ORDER BY qid
"""


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-label vote over the exact top-k (ties -> smaller label)."""
    topk = q_cosine_topk(spark, sf_dir)
    votes = topk.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"), "votes")
        .orderBy("qid")
    )


KNN_VOTE_SQL = f"""
WITH topk AS ({COSINE_TOPK_SQL.replace("ORDER BY qid, rank", "")}),
votes AS (
  SELECT qid, label, COUNT(1) AS votes FROM topk GROUP BY qid, label
), ranked AS (
  SELECT qid, label, votes,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn
  FROM votes
)
SELECT qid, label AS pred_label, votes FROM ranked WHERE rn = 1 ORDER BY qid
"""


def register_all() -> None:
    from ..registry import register

    register("similarity_topk", q_similarity_topk, SIMILARITY_TOPK_SQL)
    # knn_label_vote merged into similarity_topk's 'knn' leg (r05 rotation);
    # q_knn_label_vote + KNN_VOTE_SQL stay the library API. The freed slot
    # certifies semantic_dedup (registered in dedup.register_all).
    register("ivf_ann_topk", q_ivf_ann_topk, IVF_ANN_SQL)
