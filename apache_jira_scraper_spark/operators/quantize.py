"""Int8 embedding quantization — the storage/bandwidth path for the
embedding family at 100 TB (SURVEY.md §2.11 [X] extension; no reference
counterpart — the reference has no embedding surface at all).

Why this exists: every embedding operator in this repo (cosine top-k,
sign-LSH buckets, IVF probe search, embedding-cosine dedup) scans the
`embedding` column. At 100 TB corpus scale the embedding table is itself
multi-TB; storing `array<float>` (4 B/dim) or computing in `array<double>`
(8 B/dim) makes every scan IO-bound. Symmetric per-vector max-abs int8
quantization cuts the scan 4x (vs float32) / 8x (vs float64) and keeps the
dot-product kernel in integer arithmetic, at a bounded cosine error
(~0.5/127 per-coordinate relative rounding; < 0.02 absolute cosine error
observed on the test embeddings, pinned in tests/test_quantize.py).

Design (all JVM-side column algebra, zero shuffles, zero UDFs):

  quantize   one narrow map per row: scale = max|x|/127, then
             q[i] = floor(x[i]/scale + 0.5)  (floor(+0.5) instead of
             round() so the definition is engine-exact — Spark rounds
             HALF_UP, Python half-even; floor is identical everywhere).
             Emitted as array<tinyint> — the honest 1-byte storage type in
             parquet — plus the double `scale` for dequantization.
  cosine     scales CANCEL in cosine: cos_q = dot(q1,q2) /
             sqrt(dot(q1,q1)*dot(q2,q2)) — the whole kernel runs on
             integers promoted to bigint (no overflow until dim*127^2 >
             2^63, i.e. dim ~5.7e14) and never touches the stored scale.
  dequantize x~[i] = q[i]*scale for operators that need approximate
             raw coordinates (e.g. feeding the IVF trainer).

At scale the quantized table is written once (columnar, partitioned like
the source) and every downstream similarity/dedup pass reads 1/4 the
bytes; exact re-scoring of the final candidate set against the full-
precision column is the standard two-stage retrieval shape and composes
directly with ivf_search / cosine top-k (quantized pass for candidates,
float pass for the final ranking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Q_LEVELS = 127  # symmetric int8: values in [-127, 127]


def _maxabs(vec: Column) -> Column:
    return F.array_max(F.transform(vec, lambda x: F.abs(x)))


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "e", keep: tuple[str, ...] = ("vec_id", "label")
) -> DataFrame:
    """Per-vector symmetric int8 quantization.

    Returns `keep` columns plus `qv array<tinyint>` and `scale double`
    (scale = max|x|/127; the all-zero vector gets scale 0 and an all-zero
    qv — guarded so the division never produces NaN columns).

    scale is STAGED in its own projection before the quantization lambda:
    HOF lambda bodies get no whole-stage codegen or common-subexpression
    elimination, so an inlined scale (an array_max fold over the whole
    vector) would be re-evaluated for EVERY element — O(dim²) arithmetic
    per row on the multi-TB table this module exists to shrink. The
    multi-referenced non-cheap alias survives CollapseProject (the
    dedup._doc_shingle_df trick).
    """
    staged = emb.select(
        *keep,
        F.col(vec_col).alias("_v"),
        (_maxabs(F.col(vec_col)) / F.lit(float(Q_LEVELS))).alias("scale"),
    )
    scale = F.col("scale")
    q = F.when(
        scale == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / scale + F.lit(0.5)).cast("tinyint"),
        )
    )
    return staged.select(*keep, q.alias("qv"), scale.alias("scale"))


def _idot(a: Column, b: Column) -> Column:
    """Integer dot product — tinyint inputs promoted to bigint before the
    fold so dim*127^2 can never wrap."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(q1: Column, q2: Column) -> Column:
    """Cosine from the int8 codes alone — per-vector scales cancel."""
    return _idot(q1, q2) / F.sqrt(
        _idot(q1, q1).cast("double") * _idot(q2, q2).cast("double")
    )


def dequantize(qv: Column, scale: Column) -> Column:
    """Approximate raw coordinates: q[i]*scale (array<double>)."""
    return F.transform(qv, lambda x: x.cast("double") * scale)


def quantized_topk(
    emb: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k neighbors scored ENTIRELY on int8 codes — the
    quantized twin of similarity.q_cosine_topk (same broadcast-query join
    shape, 1/4 the scan bytes at scale). Returns (qid, rank, nid, qcosine).
    """
    qt = quantize_embeddings(emb, vec_col=vec_col, keep=(id_col,))
    q = qt.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col("qv").alias("q1")
    )
    c = qt.select(F.col(id_col).alias("nid"), F.col("qv").alias("q2"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(quantized_cosine(F.col("q1"), F.col("q2")), 6).alias("qcosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("qcosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "qcosine")
        .orderBy("qid", "rank")
    )


def two_stage_topk(
    emb: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    shortlist_k: int = 20,
    vec_col: str = "e",
    nrm_col: str = "nrm",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieval: int8 candidate pass -> exact float re-score.

    Stage 1 scans ONLY the quantized codes (1/4 the bytes) and keeps a
    `shortlist_k` candidate set per query; stage 2 joins the shortlist —
    n_queries*shortlist_k rows, tiny by construction — back to the full-
    precision vectors and re-ranks exactly. At 100 TB the expensive
    brute-force pass never touches the float column; only the shortlist
    does. With shortlist_k a few multiples of top_k the quantization
    error (<0.02 cosine) is absorbed by the re-rank: a true top-k
    neighbor is only lost if quantization pushes it below rank
    shortlist_k, pinned in tests/test_quantize.py.

    Expects (vec_id, e, nrm) as produced by similarity._emb; returns the
    same (qid, rank, nid, cosine) shape as the exact operator so the two
    are drop-in interchangeable.
    """
    shortlist = quantized_topk(
        emb, n_queries=n_queries, top_k=shortlist_k, vec_col=vec_col, id_col=id_col
    ).select("qid", "nid")
    full = emb.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("ce"), F.col(nrm_col).alias("cn")
    )
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), F.col(nrm_col).alias("qn")
    )
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    rescored = (
        F.broadcast(shortlist)
        .join(full, "nid")
        .join(F.broadcast(q), "qid")
        .select("qid", "nid", F.round(dot / (F.col("qn") * F.col("cn")), 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    )


def ivf_quantized_topk(
    emb: DataFrame,
    centroids: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF over int8 codes — the two approximations composed (the shape
    FAISS ships as IVF+SQ8, the standard production ANN configuration):
    the coarse quantizer prunes the search to nprobe cells (complexity),
    the int8 codes shrink what those cells read (bandwidth). The corpus
    representation after build time is ONLY (cid, qv): cell assignment
    runs on the DEQUANTIZED codes — honest to the storage story, the
    float column is never needed at search time — and candidate scoring
    is the integer-dot quantized cosine within probed cells. Exact
    float re-scoring of this shortlist (two_stage_topk's stage 2)
    composes on top when the final ranking must be exact.

    Returns (qid, rank, nid, qcosine).
    """
    from .ivf import ivf_assign

    qt = quantize_embeddings(emb, keep=(id_col,))
    deq = qt.select(
        id_col, "qv", dequantize(F.col("qv"), F.col("scale")).alias("e")
    )
    corpus = ivf_assign(deq, centroids, vec_col="e", nprobe=1, id_col=id_col).select(
        F.col(id_col).alias("nid"), F.col("qv").alias("q2"), "cid"
    )
    queries = ivf_assign(
        deq.filter(F.col(id_col) < n_queries),
        centroids,
        vec_col="e",
        nprobe=nprobe,
        id_col=id_col,
    ).select(F.col(id_col).alias("qid"), F.col("qv").alias("q1"), "cid")
    scored = (
        F.broadcast(queries)
        .join(corpus, "cid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(quantized_cosine(F.col("q1"), F.col("q2")), 6).alias("qcosine"),
        )
        # NO pair-collapse aggregation — same proof as ivf_search: the
        # corpus side is nprobe=1 (one cid per vector) and a query's probe
        # cids are distinct, so each (qid, nid) pair meets at most once
    )
    w = Window.partitionBy("qid").orderBy(F.desc("qcosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "qcosine")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the sub-byte rung of the compression ladder
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces (dsub = dim / m)
PQ_KSUB = 32  # centroids per subspace -> 5-bit codes, m tinyints per vector
# Above this m*ksub the single-projection literal-argmin expression (m*ksub
# zip_with folds) stops being parse/codegen-friendly — the same cliff as
# ivf._LITERAL_K_MAX — and encoding switches to the broadcast-join form.
_PQ_LITERAL_MK_MAX = 256


def pq_train(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = 8,
    train_sample: int = 4096,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train per-subspace codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") — the compression rung
    below int8: the vector splits into `m` subvectors and each stores
    only a `ksub`-way centroid id, so a dim-64 float32 vector (256 B)
    becomes m=8 tinyints (vs 64 B for SQ8): 32x smaller, and ADC search
    never reconstructs it.

    Training follows ivf_build's shape exactly: ONE Spark job collects
    the bounded deterministic sample (first `train_sample` by id), then
    every Lloyd round is driver-side numpy GEMM per subspace —
    m (sample × ksub) distance matrices, argmin, per-cluster means; an
    empty cluster keeps its previous centroid; init is the first `ksub`
    sample subvectors (reproducible run-to-run, no RNG). The model is
    O(m * ksub * dsub) = O(dim * ksub) — driver-sized by construction.

    Returns codebooks[m][ksub][dsub] as plain Python lists (the literal
    form pq_encode / pq_adc_topk embed in column expressions).
    """
    import numpy as np

    sample = emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    if not sample:
        raise ValueError("pq_train: empty embeddings input - nothing to train on")
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    if not np.isfinite(x).all():
        raise ValueError(
            "pq_train: non-finite coordinate in the training sample - a NaN/Inf "
            "centroid would poison every downstream distance expression"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    return _np_pq_books(x, m, ksub, n_iter)


def _np_pq_books(
    x, m: int, ksub: int, n_iter: int, init: list[list[list[float]]] | None = None
) -> list[list[list[float]]]:
    """The per-subspace GEMM Lloyd core, on an in-memory sample matrix —
    shared by pq_train and the OPQ alternation. `init` warm-starts each
    subspace's centroids (the OPQ alternation's requirement: restarting
    from the fixed first-ksub init after a rotation can land in a WORSE
    local optimum, which would break the alternation's monotone
    non-increase — review r10)."""
    import numpy as np

    dsub = x.shape[1] // m
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = (
            np.asarray(init[j], dtype=np.float64).copy()
            if init is not None
            else xs[:ksub].copy()
        )
        k_eff = cents.shape[0]
        xs2 = (xs**2).sum(axis=1)[:, None]
        for _ in range(n_iter):
            d2 = xs2 + (cents**2).sum(axis=1)[None, :] - 2.0 * (xs @ cents.T)
            assign = d2.argmin(axis=1)
            for cid in range(k_eff):
                members = xs[assign == cid]
                if len(members):
                    cents[cid] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _np_pq_reconstruct(x, books: list[list[list[float]]]):
    """Nearest-codeword reconstruction of every row (numpy, training-time)."""
    import numpy as np

    m = len(books)
    dsub = len(books[0][0])
    out = np.empty_like(x)
    for j, book in enumerate(books):
        cents = np.asarray(book)
        xs = x[:, j * dsub : (j + 1) * dsub]
        d2 = (
            (xs**2).sum(axis=1)[:, None]
            + (cents**2).sum(axis=1)[None, :]
            - 2.0 * (xs @ cents.T)
        )
        out[:, j * dsub : (j + 1) * dsub] = cents[d2.argmin(axis=1)]
    return out


def _pq_sqdist_sql(vec_sql: str, c: list[float]) -> str:
    arr = "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> (x - y) * (x - y)),"
        f" 0D, (a, v) -> a + v)"
    )


def pq_code_col(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """array<tinyint> of per-subspace nearest-centroid ids — a ZERO-SHUFFLE
    narrow map (the ivf_assign literal-argmin kernel per subspace; ties
    break to the lowest cid via the array_min struct ordering, matching
    np.argmin first-occurrence). One parsed SQL string, not per-element
    F.lit (the ivf._dist_structs py4j lesson)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    subs = []
    for j, book in enumerate(codebooks):
        vec_sql = f"slice({vec_col}, {j * dsub + 1}, {dsub})"
        structs = ",".join(
            f"named_struct('d', {_pq_sqdist_sql(vec_sql, c)}, 'cid', {cid})"
            for cid, c in enumerate(book)
        )
        subs.append(f"CAST(array_min(array({structs})).cid AS TINYINT)")
    return F.expr("array(" + ",".join(subs) + ")")


def _cb_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    return spark.createDataFrame(
        [
            (j, cid, c)
            for j, book in enumerate(codebooks)
            for cid, c in enumerate(book)
        ],
        "sub int, cid int, centroid array<double>",
    )


def _subvec_rows(
    emb: DataFrame, codebooks, vec_col: str, id_col, keys: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *keys, sub, qsub) — one row per subspace, via a single
    posexplode of the m slice expressions (narrow; the slice is column
    algebra). `keys` carries extra grouping columns through (the residual
    path's per-probe cell id)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    slices = ",".join(f"slice({vec_col}, {j * dsub + 1}, {dsub})" for j in range(m))
    return emb.select(
        id_col, *keys, F.posexplode(F.expr(f"array({slices})")).alias("sub", "qsub")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_code array<tinyint>) for the whole corpus — the table a
    100 TB deployment persists instead of the float column (m bytes per
    vector; the float column is read again only by an exact re-rank
    stage, never by the ADC scan).

    Small models (m*ksub <= _PQ_LITERAL_MK_MAX) assign via the
    zero-shuffle literal-argmin narrow map; production-sized models
    (ksub=256 FAISS-style) switch to the broadcast-join form: subvector
    rows equi-join the m*ksub-row codebook on `sub`, one (id, sub)-keyed
    min-struct aggregation picks each code (ties to the lowest cid —
    struct ordering (d, cid), identical to the literal path and
    np.argmin), one (id)-keyed aggregation reassembles the code array in
    subspace order. The corpus never joins anything bigger than the
    broadcast codebook."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    if m * ksub <= _PQ_LITERAL_MK_MAX:
        return emb.select(id_col, pq_code_col(vec_col, codebooks).alias("pq_code"))
    subs = _subvec_rows(emb, codebooks, vec_col, id_col)
    d = F.aggregate(
        F.zip_with("qsub", "centroid", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    best = (
        subs.join(F.broadcast(_cb_df(emb.sparkSession, codebooks)), "sub")
        .select(id_col, "sub", F.struct(d.alias("d"), F.col("cid").alias("cid")).alias("dc"))
        .groupBy(id_col, "sub")
        .agg(F.min("dc").alias("b"))
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("b.cid").alias("cid")))
            ),
            lambda s: s["cid"].cast("tinyint"),
        ).alias("pq_code")
    )


def pq_adc_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    n_queries: int = 10,
    top_k: int = 5,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: full-precision queries against the
    PQ-encoded corpus. Returns (qid, rank, nid, adist) — adist is the
    approximate squared L2 distance (sum of per-subspace query-to-centroid
    distances), rank ascending by (adist, nid).

    EVERY join is an equi-join (registry discipline — no cartesian/BNLJ):
      LUT build   queries posexplode into (qid, sub, qsub) subvector rows
                  and equi-join the m*ksub-row literal codebook on `sub`
                  (fan-out ksub per row) — n_queries*m*ksub rows, bounded
                  by construction, broadcast downstream.
      ADC scan    the encoded corpus posexplodes into (nid, sub, cid) rows
                  and equi-joins the broadcast LUT on (sub, cid); ONE
                  (qid, nid)-keyed aggregation sums the m partial
                  distances. The corpus side never shuffles before the
                  aggregation and never touches the float column.

    This is the brute-force ADC pass (cost n*m per query — the same scan
    the int8 quantized_topk does at 8x the bytes); at 100 TB it composes
    with the IVF coarse quantizer exactly like ivf_quantized_topk does
    for SQ8 (probe cells prune n, ADC prices the survivors), and an exact
    float re-rank of the shortlist composes on top (two_stage_topk's
    stage 2).
    """
    qsubs = _subvec_rows(
        emb.filter(F.col(id_col) < n_queries), codebooks, vec_col, id_col
    ).withColumnRenamed(id_col, "qid")
    lut = qsubs.join(_cb_df(emb.sparkSession, codebooks), "sub").select(
        "qid",
        "sub",
        "cid",
        F.aggregate(
            F.zip_with("qsub", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("d"),
    )
    codes = pq_encode(emb, codebooks, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col).alias("nid"),
        F.posexplode(F.col("pq_code").cast("array<int>")).alias("sub", "cid"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "adist")
        .orderBy("qid", "rank")
    )


def pq_train_residual(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = 8,
    train_sample: int = 4096,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Codebooks trained on CELL RESIDUALS (x - nearest centroid) — the
    by_residual=True half of FAISS IVFPQ: residuals concentrate around
    the origin regardless of which cell a vector lives in, so one shared
    codebook set prices all cells' local geometry instead of the global
    spread the coarse quantizer already explained.

    Same bounded driver-side shape as pq_train: one Spark job collects
    the sample, the nearest-centroid assignment and subtraction run in
    numpy, then the per-subspace Lloyd rounds are the pq_train GEMM
    loop on the residual matrix."""
    import numpy as np

    from .ivf import _centroid_rows

    sample = emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    if not sample:
        raise ValueError("pq_train_residual: empty embeddings input")
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    cents = np.asarray([c for _, c in sorted(_centroid_rows(centroids))], dtype=np.float64)
    d2 = (
        (x**2).sum(axis=1)[:, None]
        + (cents**2).sum(axis=1)[None, :]
        - 2.0 * (x @ cents.T)
    )
    res = x - cents[d2.argmin(axis=1)]
    # the residual matrix is already driver-resident — train on it
    # directly instead of round-tripping 4096×dim rows through a Spark
    # DataFrame just so pq_train can collect them back (review r10)
    if not np.isfinite(res).all():
        raise ValueError("pq_train_residual: non-finite residual in the sample")
    if res.shape[1] % m:
        raise ValueError(
            f"pq_train_residual: dim {res.shape[1]} not divisible by m {m}"
        )
    return _np_pq_books(res, m, ksub, n_iter)


def ivf_pq_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    n_queries: int = 10,
    top_k: int = 5,
    nprobe: int = 2,
    vec_col: str = "e",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ composed — the canonical billion-scale ANN configuration
    (FAISS IVFPQ, here the by_residual=False variant: codes quantize the
    raw vectors, not the cell residuals — one shared codebook set, no
    per-cell re-encode on cell rebalance; `ivf_pq_residual_topk` is the
    by_residual=True refinement).

    The coarse quantizer prunes WHICH vectors are priced (nprobe/k of the
    corpus per query); PQ prices them at m bytes each. Search-time corpus
    representation is ONLY (cid, pq_code): candidates come from the
    probe-cell equi-join, and the ADC sum is an equi-join of the exploded
    candidate codes against the per-query LUT on (qid, sub, cid) — every
    join keyed, nothing cartesian, the float column never read.

    Returns (qid, rank, nid, adist).
    """
    from .ivf import ivf_assign

    if codes is None:
        codes = pq_encode(emb, codebooks, vec_col=vec_col, id_col=id_col)
    corpus = ivf_assign(emb, centroids, vec_col=vec_col, nprobe=1, id_col=id_col).select(
        F.col(id_col).alias("nid"), "cid"
    ).join(codes.withColumnRenamed(id_col, "nid"), "nid")
    q = emb.filter(F.col(id_col) < n_queries)
    probes = ivf_assign(q, centroids, vec_col=vec_col, nprobe=nprobe, id_col=id_col).select(
        F.col(id_col).alias("qid"), "cid"
    )
    qsubs = _subvec_rows(q, codebooks, vec_col, id_col).withColumnRenamed(id_col, "qid")
    lut = qsubs.join(_cb_df(emb.sparkSession, codebooks), "sub").select(
        "qid",
        "sub",
        F.col("cid").alias("code"),
        F.aggregate(
            F.zip_with("qsub", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("d"),
    )
    cands = (
        F.broadcast(probes)
        .join(corpus, "cid")
        .filter(F.col("qid") != F.col("nid"))
        # no pair-collapse needed: corpus side is nprobe=1 (one cid per
        # vector) and a query's probe cids are distinct — the ivf_search
        # proof — so each (qid, nid) meets at most once
        .select(
            "qid",
            "nid",
            F.posexplode(F.col("pq_code").cast("array<int>")).alias("sub", "code"),
        )
    )
    scored = (
        cands.join(F.broadcast(lut), ["qid", "sub", "code"])
        .groupBy("qid", "nid")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "adist")
        .orderBy("qid", "rank")
    )


def opq_train(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = 8,
    opq_iters: int = 6,
    train_sample: int = 4096,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ — Optimized Product Quantization (Ge et al. 2013, the
    non-parametric alternation): learn an ORTHOGONAL rotation R jointly
    with the codebooks so the subspace split falls along the sample's
    natural axes; quantization then happens in the rotated frame
    (encode Rx, price ||Rq - cb[code]||²).

    Alternation on the bounded driver-side sample: (1) refine codebooks
    on the rotated sample (the shared GEMM Lloyd core, WARM-STARTED from
    the previous round's codebooks — a cold restart after a rotation can
    land in a worse local optimum and void the guarantee), (2)
    reconstruct, (3) solve the orthogonal Procrustes problem
    min_R ||R X - Y||_F via one d×d SVD (R = U Vᵀ of Y Xᵀ). Warm-started,
    no step increases the quantization error, so the trained-sample MSE
    is <= plain PQ's with the same (m, ksub) — pinned in tests. The
    model is O(dim² + dim*ksub) — driver-sized; R starts at identity so
    opq_iters=0 degrades to PQ exactly.

    Returns (R as dim×dim row-major lists, codebooks).
    """
    import numpy as np

    sample = emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    if not sample:
        raise ValueError("opq_train: empty embeddings input")
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    if not np.isfinite(x).all():
        raise ValueError(
            "opq_train: non-finite coordinate in the training sample - a NaN/Inf "
            "rotation row would render as 'nanD' inside rotate_col's literal "
            "expression and fail far from the cause"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"opq_train: dim {dim} not divisible by m {m}")
    r = np.eye(dim)
    # round 0 (identity rotation) IS plain PQ — later rounds refine these
    # books in place rather than retraining from the fixed init
    books = _np_pq_books(x, m, ksub, n_iter)
    for _ in range(opq_iters):
        xr = x @ r.T
        books = _np_pq_books(xr, m, ksub, n_iter, init=books)
        y = _np_pq_reconstruct(xr, books)
        u, _, vt = np.linalg.svd(y.T @ x)
        r = u @ vt
    return [[float(v) for v in row] for row in r], books


def rotate_col(vec_col: str, rotation: list[list[float]]) -> Column:
    """Rx as a column expression — dim aggregate folds (one per output
    coordinate) over the literal rotation rows, O(dim²) flops per row
    JVM-side: the honest everywhere-cost of OPQ, paid once at encode and
    once per query at LUT build. Sequential left-to-right fold order, so
    a Python reference summing in the same order matches BIT-for-bit."""
    rows = ",".join(
        f"aggregate(zip_with({vec_col}, {_arr_sql_q(row)}, (x, y) -> x * y),"
        f" 0D, (a, v) -> a + v)"
        for row in rotation
    )
    return F.expr(f"array({rows})")


def _arr_sql_q(c: list[float]) -> str:
    return "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"


def opq_encode(
    emb: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_code) under the learned rotation: project Rx (narrow map),
    then the standard pq_encode paths on the rotated column."""
    rotated = emb.select(id_col, rotate_col(vec_col, rotation).alias("_re"))
    return pq_encode(rotated, codebooks, vec_col="_re", id_col=id_col)


def opq_adc_topk(
    emb: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    n_queries: int = 10,
    top_k: int = 5,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k in the rotated frame — rotation is a narrow projection on
    both sides (corpus once at encode, queries once at LUT build), after
    which the search IS pq_adc_topk: rotations preserve L2, so
    ||Rq - Rx||² == ||q - x||² and the ADC approximation quality is the
    rotated codebooks' to win."""
    rotated = emb.select(id_col, rotate_col(vec_col, rotation).alias("_re"))
    return pq_adc_topk(
        rotated,
        codebooks,
        n_queries=n_queries,
        top_k=top_k,
        vec_col="_re",
        id_col=id_col,
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    n_queries: int = 10,
    top_k: int = 5,
    nprobe: int = 2,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFPQ with residual coding (FAISS by_residual=True — the canonical
    production configuration): the corpus stores PQ codes of x - c(x)
    (codebooks from pq_train_residual), and a query builds one LUT PER
    PROBED CELL from its own residual against that cell's centroid, so
    the priced distance is ||(q - c) - cb[code]||² with both sides
    expressed in the same cell-local frame.

    Still equi-joins only: the LUT is keyed (qid, cid, sub, code) —
    n_queries * nprobe * m * ksub rows, bounded by construction,
    broadcast — and candidates join it on all four keys. Search-time
    corpus representation stays (cid, pq_code); the float column is read
    only at build time (assignment + residual encode), exactly the FAISS
    storage contract.

    The residual table feeds TWO consumers (the (nid, cid) spine and the
    encoder), so it is materialized once — un-checkpointed, the
    full-corpus assignment + residual map would execute once per
    reference (the q_two_stage_topk double-execution class, review r10).
    The checkpoint is owned by the caller's io scope (the
    connected_components contract).

    Returns (qid, rank, nid, adist).
    """
    from ..io import checkpoint
    from .ivf import ivf_assign

    resid = checkpoint(
        ivf_assign(emb, centroids, vec_col=vec_col, nprobe=1, id_col=id_col)
        .join(F.broadcast(centroids), "cid")
        .select(
            id_col,
            "cid",
            F.zip_with(vec_col, "centroid", lambda x, y: x - y).alias("res"),
        )
    )
    corpus = resid.select(F.col(id_col).alias("nid"), "cid").join(
        pq_encode(resid, codebooks, vec_col="res", id_col=id_col).withColumnRenamed(
            id_col, "nid"
        ),
        "nid",
    )
    q = emb.filter(F.col(id_col) < n_queries)
    probes = ivf_assign(q, centroids, vec_col=vec_col, nprobe=nprobe, id_col=id_col).select(
        F.col(id_col).alias("qid"), "cid"
    )
    qres = (
        probes.join(q.select(F.col(id_col).alias("qid"), vec_col), "qid")
        .join(F.broadcast(centroids), "cid")
        .select(
            "qid",
            "cid",
            F.zip_with(vec_col, "centroid", lambda x, y: x - y).alias("qres"),
        )
    )
    lut = _subvec_rows(qres, codebooks, "qres", "qid", keys=("cid",)).join(
        _cb_df(emb.sparkSession, codebooks).withColumnRenamed("cid", "code").withColumnRenamed("sub", "csub"),
        F.col("sub") == F.col("csub"),
    ).select(
        "qid",
        "cid",
        "sub",
        "code",
        F.aggregate(
            F.zip_with("qsub", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("d"),
    )
    cands = (
        F.broadcast(probes)
        .join(corpus, "cid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "cid",
            F.posexplode(F.col("pq_code").cast("array<int>")).alias("sub", "code"),
        )
    )
    scored = (
        cands.join(F.broadcast(lut), ["qid", "cid", "sub", "code"])
        .groupBy("qid", "nid")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "adist")
        .orderBy("qid", "rank")
    )


def pq_model(
    vec: list[float], codebooks: list[list[list[float]]]
) -> tuple[list[int], "list[float]"]:
    """Pure-Python model of pq_code_col + per-subspace distances (test
    oracle): must match the Spark column algebra on finite inputs."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    code, dists = [], []
    for j, book in enumerate(codebooks):
        sub = vec[j * dsub : (j + 1) * dsub]
        best_cid, best_d = 0, float("inf")
        for cid, c in enumerate(book):
            d = sum((x - y) * (x - y) for x, y in zip(sub, c))
            if d < best_d:  # strict: ties keep the LOWEST cid
                best_cid, best_d = cid, d
        code.append(best_cid)
        dists.append(best_d)
    return code, dists


def quantize_model(vec: list[float]) -> tuple[list[int], float]:
    """Pure-Python model of the quantizer (test oracle): must match the
    Spark column algebra bit-for-bit on finite inputs."""
    import math

    m = max((abs(x) for x in vec), default=0.0)
    scale = m / Q_LEVELS
    if scale == 0.0:
        return [0] * len(vec), 0.0
    return [int(math.floor(x / scale + 0.5)) for x in vec], scale


# ---------------------------------------------------------------------------
# Driver gate (r05 rotation): two-stage retrieval, hash-checked
# ---------------------------------------------------------------------------

# Gate shortlist: 8x top_k. The certification contract is that the int8
# shortlist RECOVERS the exact float top-k (stage 2 re-scores at full
# precision), so the oracle is the plain exact brute-force top-k — the gate
# fails loudly if quantization error ever pushes a true neighbor below the
# shortlist. tests/test_quantize.py pins the tighter 4x setting with a
# 1-rank tolerance; the gate uses 8x so the certified output is exact.
GATE_SHORTLIST_K = 40


# PQ/OPQ envelopes, MEASURED (r11, VERDICT r10 item 4): the ADC shortlist
# (8x top_k) must recover at least *_MIN_HITS of the exact top-5 per query.
# tools/pq_envelope_probe.py measures the min-hits floor across 18 runs —
# 3 SFs x 3 fixture-composition variants x 2 models (training is
# deterministic, so composition IS the regeneration axis): PQ floor 3
# (3 at sf0.001-full, sf0.01-drop23, all sf0.1 variants), OPQ floor 2
# (the single sf0.1-drop17 dip; 3+ everywhere else; both floors are 3 at
# the driver's sf0.01 hash gate). Envelope = observed floor - 1 (the IVF
# gate's sizing rule), so each constant sits exactly one under its own
# measured floor instead of sharing a guessed cushion. Full table in
# PERF.md; re-run the probe if the embeddings fixture family regenerates.
PQ_GATE_SHORTLIST_K = 40
PQ_MIN_HITS = 2
OPQ_MIN_HITS = 1
# Sum-of-hits envelopes (r12, VERDICT r11 item 3): the per-query min-hits
# floor is a thin certificate at OPQ_MIN_HITS=1 (a ≥1-of-top-5 hit in a
# 40-of-~200 shortlist is satisfied by a near-random shortlist ~66% of the
# time PER QUERY); the TOTAL across the 10 queries certifies real recall.
# r12 probe re-run (18 configs, sum_hits recorded per run): PQ total floor
# 39 (sf0.1-drop17), OPQ total floor 42 (sf0.1-full); envelope = floor - 2
# (the sum-scale analog of the minus-one rule — see the probe's summary
# comment). Max possible total = 10 queries x top-5 = 50.
PQ_HITS_TOTAL_MIN = 37
OPQ_HITS_TOTAL_MIN = 40

def q_two_stage_topk(spark, sf_dir: str) -> DataFrame:
    """Driver gate: int8 candidate scan -> exact float re-rank, certified
    against the exact brute-force oracle (same (qid, rank, nid, cosine)
    contract as similarity_topk's exact leg).

    r10: the gate also certifies the PQ family — `pq_recall_ok` is TRUE
    per query iff the product-quantized ADC shortlist recovered >=
    PQ_MIN_HITS of the exact top-k, and `opq_recall_ok` certifies the
    learned-rotation variant against OPQ_MIN_HITS (r11: both envelopes
    sized floor-1 from tools/pq_envelope_probe.py's 18-run measurement —
    see the constants' comment). The oracle emits literal TRUE for
    both, so the row only hash-matches if each trained model actually
    met its envelope (the ivf_recall_ok pattern).

    r12: two more certified columns, `pq_hits_total_ok` /
    `opq_hits_total_ok` — the SUM of recovered exact-top-5 hits across
    all queries vs the measured total envelopes (PQ_HITS_TOTAL_MIN /
    OPQ_HITS_TOTAL_MIN). The per-query min floor tolerates a near-random
    shortlist when the floor is 1; the total is satisfied only by real
    aggregate recall (>= 37/50 and 40/50 respectively)."""
    from concurrent.futures import ThreadPoolExecutor
    from contextvars import copy_context

    from ..io import checkpoint
    from .similarity import N_QUERIES, TOP_K, _emb

    emb = _emb(spark, sf_dir)
    # The three builds are independent and each costs seconds cold: the
    # two-stage spine (read twice below — hits spine and output spine —
    # so checkpointed), the PQ codebooks and the OPQ rotation+codebooks
    # (driver-side training). They run on concurrent driver threads, so a
    # call pays the slowest build, not the sum; each thread runs in a copy
    # of the caller's context, so the spine checkpoint lands in the
    # caller's io scope.
    with ThreadPoolExecutor(max_workers=3) as ex:
        f_ts = ex.submit(
            copy_context().run,
            lambda: checkpoint(
                two_stage_topk(
                    emb, n_queries=N_QUERIES, top_k=TOP_K, shortlist_k=GATE_SHORTLIST_K
                )
            ),
        )
        f_pq = ex.submit(copy_context().run, pq_train, emb)
        f_opq = ex.submit(copy_context().run, opq_train, emb)
        ts = f_ts.result()
        books = f_pq.result()
        r, obooks = f_opq.result()

    def _hits(shortlist: DataFrame, name: str) -> DataFrame:
        return (
            ts.select("qid", "nid")
            .join(shortlist.select("qid", "nid"), ["qid", "nid"], "left_semi")
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias(name))
        )

    # Chained unique-keyed left joins equal one left join of the
    # full-outer merge, so the merged shape is row-identical to two
    # separate hit joins.
    short = pq_adc_topk(emb, books, n_queries=N_QUERIES, top_k=PQ_GATE_SHORTLIST_K)
    oshort = opq_adc_topk(emb, r, obooks, n_queries=N_QUERIES, top_k=PQ_GATE_SHORTLIST_K)
    hits = _hits(short, "_ph").join(_hits(oshort, "_oh"), "qid", "full")

    # The sum-of-hits totals ride the SAME joined frame: each qid appears
    # exactly TOP_K times in ts, so the all-rows window sum is TOP_K x the
    # per-query-hit total — integer-exact after `div TOP_K`. The window is
    # unpartitioned but runs over the N_QUERIES*TOP_K-row gate result
    # (bounded by construction, the sweep-band-table budget class).
    return (
        ts.join(hits, "qid", "left")
        .withColumn("pq_recall_ok", F.coalesce(F.col("_ph"), F.lit(0)) >= PQ_MIN_HITS)
        .withColumn("opq_recall_ok", F.coalesce(F.col("_oh"), F.lit(0)) >= OPQ_MIN_HITS)
        .withColumn(
            "pq_hits_total_ok",
            F.expr(f"sum(coalesce(_ph, 0)) over () div {TOP_K}")
            >= PQ_HITS_TOTAL_MIN,
        )
        .withColumn(
            "opq_hits_total_ok",
            F.expr(f"sum(coalesce(_oh, 0)) over () div {TOP_K}")
            >= OPQ_HITS_TOTAL_MIN,
        )
        .drop("_ph", "_oh")
        .orderBy("qid", "rank")
    )


def _two_stage_sql() -> str:
    from .similarity import N_QUERIES, TOP_K, _COS_SQL

    return f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, {_COS_SQL} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid, rank, nid, cosine, TRUE AS pq_recall_ok, TRUE AS opq_recall_ok,
       TRUE AS pq_hits_total_ok, TRUE AS opq_hits_total_ok
FROM ranked WHERE rank <= {TOP_K} ORDER BY qid, rank
"""


def register_all() -> None:
    from ..registry import register

    register("two_stage_topk", q_two_stage_topk, _two_stage_sql())
