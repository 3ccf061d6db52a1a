"""IVF (inverted-file) approximate nearest-neighbor index — the coarse-
quantizer scale path for similarity search (SURVEY.md §2.11; complements the
sign-LSH bucketing in similarity.py / dedup.py).

Design (all DataFrame algebra; the only driver-side state is the centroid
model itself, which is O(k*dim) — driver-sized BY CONSTRUCTION, exactly like
every distributed k-means implementation):

  build   Lloyd's iterations: assignment is a NARROW MAP (argmin over the k
          centroid literals via array_min of distance structs — no join, no
          shuffle of the sample), update is one groupBy(cid) per-dimension
          avg — ONE shuffle per iteration over the bounded training sample.
          Each round lands the k centroids on the driver and re-emits them
          as literals, keeping every iteration's plan flat (a lineage-chained
          formulation made Catalyst re-optimize an n_iter-deep aggregation
          tree: 147 s vs ~2 s for the same data). Init is deterministic
          (first k vectors by id), so the index is reproducible run-to-run.
  assign  nearest-centroid ids via the same argmin literal expression —
          zero-shuffle narrow map over the corpus for k up to
          _LITERAL_K_MAX; beyond that (centroid count grows ~sqrt(n), e.g.
          65k cells at 100 TB) the same argmin runs as a broadcast join +
          min-struct aggregation keyed by the row id (the 33 MB centroid
          table broadcasts; the corpus still never shuffles).
  search  queries probe their `nprobe` nearest centroids; candidates come
          from an equi-join on centroid id (never a cross join), then exact
          cosine top-k within the candidate set.
  pairs   `ivf_near_dup_pairs` — near-dup pair generation blocked on IVF
          cells (nprobe-way assignment for boundary recall), the trained
          alternative to dedup.embedding_cosine_pairs' sign-LSH blocking.

At 100 TB: the corpus is hash-partitioned by centroid id so each probe
touches `nprobe/k` of the data. Training runs on a bounded sample
(`train_sample`), the standard IVF practice — Lloyd's on the full corpus
would be k full-scan shuffles per iteration for no recall benefit.

Recall contract: a true neighbor in an unprobed cell is missed; raise
`nprobe` (or centroid overlap) to trade cost for recall —
tests/test_ivf.py pins recall@k against the exact top-k oracle, and the
`ivf_ann_topk` driver gate hash-checks a recall envelope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..io import checkpoint

# Above this k the argmin literal expression (k zip_with/aggregate folds in
# one projection) stops being codegen-friendly; assignment switches to the
# broadcast-join form.
_LITERAL_K_MAX = 128


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns (one fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _centroid_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Land the model on the driver — bounded at O(k*dim) by construction.
    Non-finite coordinates are rejected with a clear error: repr(nan/inf)
    renders as 'nanD'/'infD' inside the literal SQL expression and the
    resulting ParseException would surface far from the actual cause (a
    NaN vector that leaked into training)."""
    import math

    rows = [(int(r["cid"]), list(r["centroid"])) for r in centroids.collect()]
    for cid, c in rows:
        if not all(math.isfinite(x) for x in c):
            raise ValueError(
                f"centroid {cid} contains a non-finite coordinate - a NaN/Inf "
                "vector reached the model; filter non-finite embeddings before "
                "training"
            )
    return rows


def _arr_sql(c: list[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"


def _dist_structs(vec_col: str, rows: list[tuple[int, list[float]]]) -> Column:
    """array<struct<d,cid>> of distances to every centroid literal — the
    narrow-map argmin/argsort kernel shared by build, assign, and probe.

    Built as ONE SQL expression string: the per-element F.lit form costs
    thousands of py4j round trips per call (measured ~2 s of driver-side
    plan construction per Lloyd's round at k=16, dim=64); a single parsed
    string is one round trip."""
    structs = ",".join(
        f"named_struct('d', aggregate(zip_with({vec_col}, {_arr_sql(c)},"
        f" (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v), 'cid', {cid})"
        for cid, c in rows
    )
    return F.expr(f"array({structs})")


def ivf_build(
    emb: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    train_sample: int = 4096,
    vec_col: str = "e",
    id_col: str = "vec_id",
    tol: float = 1e-2,
) -> DataFrame:
    """Train the coarse quantizer; returns the centroid table (cid, centroid).

    Lloyd's iterations over a deterministic bounded training sample (first
    `train_sample` vectors by id — reproducible, unlike rand() sampling).
    The sample is DRIVER-RESIDENT BY CONSTRUCTION (train_sample rows
    regardless of corpus size — the same boundedness argument as the k-row
    centroid model itself), so the iteration runs in numpy on the driver:
    ONE Spark job collects the sample, then every Lloyd round is an
    in-memory argmin + per-cluster mean. The previous form ran each round
    as a Spark job over a k*dim-literal argmin expression — at 16×small-SF
    scale Catalyst's passes over that expression tree, not the data,
    dominated the gate's wall time (~4.8 s of the 5.8 s r04 bench line);
    this is the coarse-quantizer training shape FAISS uses (in-memory over
    a bounded sample). A cid that captures no sample points keeps its
    previous centroid. Ties in the argmin break to the lowest cid
    (np.argmin first-occurrence — identical to the array_min struct
    ordering used at assignment time).

    `n_iter` is a BUDGET, not a fixed cost: the loop early-stops once the
    max squared centroid shift falls below `tol` RELATIVE to the centroid
    scale (max squared centroid norm of the round) — a relative test, so
    convergence behaves identically for embeddings with tiny or huge
    coordinate magnitudes (an absolute threshold would stop a small-norm
    embedding space after one round and never stop a large-norm one).
    """
    import numpy as np

    spark = emb.sparkSession

    def _literal(rows: list[tuple[int, list[float]]]) -> DataFrame:
        return spark.createDataFrame(rows, "cid int, centroid array<double>")

    sample = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    )
    if not sample:
        raise ValueError("ivf_build: empty embeddings input - nothing to train on")
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    if not np.isfinite(x).all():
        raise ValueError(
            "ivf_build: non-finite coordinate in the training sample - a NaN/Inf "
            "centroid would poison every downstream distance expression"
        )
    cents = x[:k].copy()  # init = first k sample vectors by id
    k_eff = cents.shape[0]
    x2 = (x**2).sum(axis=1)[:, None]
    for _ in range(n_iter):
        # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x.c — an n×k distance matrix
        # with no n×k×dim broadcast intermediate (ADVICE r05: the direct
        # form's tensor scaled driver memory linearly in
        # train_sample·k·dim with no guard; this is the standard GEMM
        # k-means step). Constant-per-row x2 can't flip the argmin; fp
        # noise from the expansion only re-breaks EXACT ties, and the
        # gate certifies a recall envelope, not the tie itself.
        d2 = x2 + (cents**2).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        assign = d2.argmin(axis=1)
        nxt = cents.copy()
        for cid in range(k_eff):
            members = x[assign == cid]
            if len(members):
                nxt[cid] = members.mean(axis=0)
        shift = float(((cents - nxt) ** 2).sum(axis=1).max())
        # Relative convergence: normalize by the centroid scale so tol is
        # magnitude-invariant. The 1e-30 floor only guards div-by-zero: a
        # degenerate near-zero-norm model never early-stops and pays the
        # full n_iter budget.
        scale = float((nxt**2).sum(axis=1).max())
        cents = nxt
        if shift < tol * max(scale, 1e-30):
            break
    return _literal([(i, [float(v) for v in cents[i]]) for i in range(k_eff)])


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "e",
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Attach the `nprobe` nearest centroid ids to every row of `emb`
    (nprobe=1 → the inverted-list assignment; >1 → the query-side probe
    set).

    Small k (<= _LITERAL_K_MAX): a zero-shuffle narrow map — argsort of the
    k distance structs per row, slice nprobe, explode. Large k: the same
    argmin as a broadcast join; nprobe=1 (the inverted-list corpus
    assignment) reduces with a MIN-struct aggregation — partial-aggregable
    map-side, ONE struct of state per key, payload rides inside the kept
    struct so no join back — and nprobe>1 takes the nprobe smallest via a
    row_number window, which sorts spill-ably instead of buffering all k
    distance structs per row in aggregation state (a collect_list of k
    payload-carrying structs is O(k·dim) PER ROW — executor OOM at
    exactly the 65k-cell scale this branch exists for).
    """
    rows = _centroid_rows(centroids)
    keys = list(emb.columns)
    if len(rows) <= _LITERAL_K_MAX:
        probes = emb.select(
            *keys,
            F.slice(F.array_sort(_dist_structs(vec_col, rows)), 1, nprobe).alias(
                "_probes"
            ),
        )
        return probes.select(*keys, F.explode(F.col("_probes.cid")).alias("cid"))
    payload = F.struct(*[F.col(c) for c in keys if c != id_col]).alias("p")
    pairs = emb.join(F.broadcast(centroids)).select(
        id_col,
        F.struct(
            _sqdist(F.col(vec_col), F.col("centroid")).alias("d"),
            F.col("cid").alias("cid"),
            payload,
        ).alias("dc"),
    )
    if nprobe == 1:
        probed = pairs.groupBy(id_col).agg(F.min("dc").alias("dc"))
    else:
        w = Window.partitionBy(id_col).orderBy(F.col("dc.d"), F.col("dc.cid"))
        probed = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .drop("_rn")
        )
    return probed.select(id_col, "dc.p.*", F.col("dc.cid").alias("cid")).select(
        *keys, "cid"
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    threshold: float = 0.25,
    nprobe: int = 2,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop all but one vector from
    every group of embedding-space near-duplicates — the embedding twin of
    the text pipeline's near-dup cluster canonicalization, used to prune
    semantically redundant training examples that text dedup can't see
    (paraphrases, re-renders, translations into the same embedding region).

    Pure composition of the engine's existing scale parts: a blocked
    near-dup pair generator → connected components over the pair graph
    (hash-to-min rounds) → keep the min-id member per component. Returns
    (vec_id, cluster_id, kept): every input row labeled, kept = (vec_id ==
    cluster_id); singletons are their own cluster and always kept.

    Blocking is pluggable: pass trained ``centroids`` for IVF-cell
    blocking (`ivf_near_dup_pairs` — candidate pairs from trained-cell
    equi-joins, never corpus²; the preferred shape when a training pass
    is affordable), or an explicit ``pairs`` DataFrame (v1, v2) from any
    generator — e.g. dedup.embedding_cosine_pairs' deterministic sign-LSH
    blocking, which is what the driver gate certifies end-to-end because
    its pair set is exactly SQL-expressible (IVF's is recall-bounded, not
    exact — pinned in tests/test_ivf.py instead).
    """
    from .dedup import connected_components

    if pairs is None:
        if centroids is None:
            raise ValueError("semantic_dedup needs either centroids or pairs")
        pairs = ivf_near_dup_pairs(emb, centroids, threshold=threshold, nprobe=nprobe)
    comp = connected_components(
        pairs.select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
    )
    return (
        emb.select("vec_id")
        .join(
            comp.select(F.col("doc_id").alias("vec_id"), "cluster_id"),
            "vec_id",
            "left",
        )
        .select("vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
        .withColumn("kept", F.col("vec_id") == F.col("cluster_id"))
        .orderBy("vec_id")
    )


def ivf_probe_assign(
    emb: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    vec_col: str = "e",
) -> DataFrame:
    """The nprobe-way RANKED assignment ivf_search runs internally, as a
    standalone frame: every emb column plus (probe_rank, cid), rank 0
    being the nearest cell (= the inverted-list membership) and higher
    ranks the probe set. This table IS the landed IVF index artifact a
    production deployment materializes once per corpus — callers that
    search repeatedly against a fixed corpus (the driver gate) checkpoint
    it and pass it to ``ivf_search(assigned=...)`` instead of re-running
    the k·dim-literal argmin map per search (r13 optimization round:
    the re-assignment was the gate's dominant warm cost)."""
    rows = _centroid_rows(centroids)
    if len(rows) > _LITERAL_K_MAX:
        raise ValueError(
            "ivf_probe_assign: ranked assignment is the literal-k path; "
            f"k={len(rows)} > {_LITERAL_K_MAX} uses ivf_assign's "
            "broadcast-join form instead"
        )
    keys = list(emb.columns)
    return emb.select(
        *keys,
        F.posexplode(
            F.slice(F.array_sort(_dist_structs(vec_col, rows)), 1, nprobe)
        ).alias("probe_rank", "dc"),
    ).select(*keys, "probe_rank", F.col("dc.cid").alias("cid"))


def ivf_search(
    emb: DataFrame,
    centroids: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: probe `nprobe` cells per query, exact cosine inside the
    candidate cells. Expects `emb` with (vec_id, label, e, nrm) as produced
    by similarity._emb. The candidate generator is an equi-join on cid —
    the IVF twin of similarity.q_ann_lsh_topk's sign-LSH bucket join.

    ONE assignment pass serves both sides: nprobe-way assignment with the
    probe rank kept — the corpus side is rank 1 (nearest cell, the
    inverted-list membership), the query side is every probed rank. Two
    separate ivf_assign calls would instantiate the k·dim-literal argmin
    expression twice in one plan; at small SF Catalyst's passes over that
    tree, not the data, dominate wall time.

    ``assigned``: a precomputed ivf_probe_assign(emb, centroids, nprobe)
    frame (e.g. a checkpointed index artifact) — skips the per-call
    assignment map and the centroid collect entirely."""
    if assigned is not None:
        corpus_src = assigned.filter(F.col("probe_rank") == 0)
        queries_src = assigned.filter(F.col("vec_id") < n_queries)
    elif len(_centroid_rows(centroids)) <= _LITERAL_K_MAX:
        ranked = ivf_probe_assign(emb, centroids, nprobe=nprobe)
        corpus_src = ranked.filter(F.col("probe_rank") == 0)
        queries_src = ranked.filter(F.col("vec_id") < n_queries)
    else:
        # large-k form: the literal expression stops being codegen-friendly,
        # so fall back to ivf_assign's broadcast-join assignment (two calls
        # — at this k the data, not the plan, dominates anyway)
        corpus_src = ivf_assign(emb, centroids, nprobe=1)
        queries_src = ivf_assign(
            emb.filter(F.col("vec_id") < n_queries), centroids, nprobe=nprobe
        )
    corpus = corpus_src.select(
        F.col("vec_id").alias("nid"),
        F.col("label"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        "cid",
    )
    queries = queries_src.select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn"), "cid"
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "cid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "label",
            F.round(_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6).alias(
                "cosine"
            ),
        )
        # NO pair-collapse aggregation: the corpus side carries exactly ONE
        # cid per vector (rank-1 inverted-list membership) and a query's
        # probe cids are distinct, so a (qid, nid) pair can meet in at most
        # one cell — a groupBy here would shuffle the whole scored candidate
        # set to provably merge nothing. (ivf_near_dup_pairs DOES collapse:
        # there BOTH sides are nprobe-assigned and pairs genuinely repeat.)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("qid", "rank", "nid", "label", "cosine")
        .orderBy("qid", "rank")
    )


def ivf_near_dup_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.25,
    nprobe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs blocked on IVF cells — the trained-centroid
    alternative to dedup.embedding_cosine_pairs' sign-LSH blocking, and the
    preferred 100 TB shape when a training pass is affordable: cells adapt
    to the data distribution (hot regions split across many centroids)
    where sign-LSH buckets are data-oblivious.

    Every vector is assigned its `nprobe` nearest cells, so a pair whose
    members straddle one cell boundary still meets in the second-choice
    cell — the recall knob, at ≤ nprobe² candidate duplication (collapsed
    before thresholding). Candidate generation stays an equi-join on cid;
    no cross join at any scale. Expects (vec_id, e, nrm) as produced by
    similarity._emb; returns (v1, v2, cosine).
    """
    assigned = ivf_assign(emb, centroids, nprobe=nprobe)
    a = assigned.select(
        F.col("vec_id").alias("v1"), F.col("e").alias("e1"), F.col("nrm").alias("n1"),
        "cid",
    )
    b = assigned.select(
        F.col("vec_id").alias("v2"), F.col("e").alias("e2"), F.col("nrm").alias("n2"),
        "cid",
    )
    return (
        a.join(b, "cid")
        .filter(F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.round(
                _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 4
            ).alias("cosine"),
        )
        # the same pair can meet in up to nprobe² shared cells — collapse
        .groupBy("v1", "v2")
        .agg(F.first("cosine").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("v1", "v2")
    )


# --- cross-engine-EXACT IVF (r11 groundwork for the r12 gate rotation) -----
#
# ivf_build's numpy GEMM training is deterministic but NOT cross-engine
# reproducible: expansion-form distances (||x||²+||c||²-2x·c, pairwise
# numpy summation) and unrounded argmins differ from a SQL twin's direct
# sequential folds in final ulps, and one flipped assignment cascades into
# a different model. The *_exact family below buys bit-stable parity with
# two disciplines, at zero cost to the existing envelope-certified path
# (ivf_build and its gates are untouched):
#
#   1. every assignment distance is the DIRECT form sum((x-c)²) ROUNDED
#      half-away-from-zero to 6 decimals, ties broken by cid — matching
#      Spark's struct(d, cid) array_sort and DuckDB's (d, cid) ORDER BY;
#   2. every centroid mean is rounded the same way after each Lloyd round
#      (empty cells keep the previous centroid), so ulp-level differences
#      between Python's sequential fold and DuckDB's AVG cannot cascade.
#
# Residual risk: a pre-round value landing within ~1e-15·|v| of a 0.5e-6
# rounding boundary can still flip (~1e-9 per value; ~4e-6 per model at
# k=16, dim=64, n_iter=4) — the same accepted class as every round(x, 6)
# gate. Fixed n_iter (no tol early-stop: a data-dependent round count
# can't be mirrored by a fixed-depth CTE chain).

IVF_EXACT_K = 16
IVF_EXACT_ITERS = 4
IVF_EXACT_SAMPLE = 4096


def _round_half_away(v, digits: int = 6):
    """Python's round() is banker's; Spark F.round and DuckDB ROUND are
    half-away-from-zero. THE one rounding definition for the exact-IVF
    family — numpy-vectorized so the trainer calls literally this
    function (review r11: a scalar helper plus a separate inline
    vectorized copy meant the unit test pinned the dead copy)."""
    import numpy as np

    scale = 10.0**digits
    out = np.copysign(np.floor(np.abs(v) * scale + 0.5), v) / scale
    return float(out) if np.isscalar(v) or getattr(v, "ndim", 1) == 0 else out


def ivf_build_exact(
    emb: DataFrame,
    k: int = IVF_EXACT_K,
    n_iter: int = IVF_EXACT_ITERS,
    train_sample: int = IVF_EXACT_SAMPLE,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-engine-exact coarse quantizer: pure-Python Lloyd rounds under
    the rounding discipline above, mirrored term-for-term by
    ivf_exact_sql_ctes. Returns (cid, centroid) like ivf_build."""
    import numpy as np

    sample = emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    if not sample:
        raise ValueError("ivf_build_exact: empty embeddings input")
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    if not np.isfinite(x).all():
        raise ValueError("ivf_build_exact: non-finite coordinate in sample")

    r6 = _round_half_away  # THE definition — see its docstring

    cents = x[:k].copy()
    for _ in range(n_iter):
        # DIRECT-form distances (sum over dim of (x-c)^2), rounded before
        # the argmin: numpy's pairwise summation differs from a sequential
        # fold only in final ulps, which the rounding heals — so the
        # vectorized trainer stays bit-equal to the SQL twin while running
        # ~100x faster than a pure-Python loop. np.argmin first-occurrence
        # = lowest-cid tie-break, matching the (d, cid) ORDER BY.
        d2 = r6(((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1))
        assign = d2.argmin(axis=1)
        for cid in range(cents.shape[0]):
            mem = x[assign == cid]
            if len(mem):  # empty cell keeps its previous centroid
                cents[cid] = r6(mem.sum(axis=0) / len(mem))
    return emb.sparkSession.createDataFrame(
        [(i, [float(v) for v in cents[i]]) for i in range(cents.shape[0])],
        "cid int, centroid array<double>",
    )


def ivf_assign_exact(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "e",
    nprobe: int = 1,
    id_col: str = "vec_id",
    dist_col: str | None = None,
) -> DataFrame:
    """nprobe-way assignment under the exact discipline: distances rounded
    to 6 decimals before the (d, cid) ranking. ``dist_col`` (optional)
    additionally emits that rounded distance — same expression the
    ranking uses, so consumers (density_prune) never recompute it.

    r12: broadcast-join + row_number form instead of the k-struct literal
    expression. The outputs are identical (the fold over a broadcast
    centroid column is the same sequential aggregate as over the literal
    array, and row_number ORDER BY (d, cid) is the array_sort struct
    order — verified row-equal at sf0.01/0.1 before the switch), but the
    literal form cost ~2.5 s of DRIVER-side Catalyst analysis per build
    (16 inline HOF folds over 64-dim literals) plus its codegen; the
    broadcast form plans in ~0.2 s and matches the >128-cell branch's
    scale shape. Shuffle honesty (review r12): the row_number window DOES
    re-key by id — corpus x nprobe rows cross one hashpartitioning
    exchange (Spark plans the nprobe filter as WindowGroupLimit, so only
    nprobe of the k distance rows per id survive to that exchange). The
    replaced literal form was genuinely zero-shuffle; this form trades
    that one bounded exchange for the driver-side analysis win, and the
    production path for literal-friendly k remains ivf_assign."""
    keys = list(emb.columns)
    d = F.round(_sqdist(F.col(vec_col), F.col("centroid")), 6)
    w = Window.partitionBy(id_col).orderBy(d.asc(), F.col("cid").asc())
    extra = [d.alias(dist_col)] if dist_col else []
    return (
        emb.join(F.broadcast(centroids))
        .select(*keys, "cid", *extra, F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= nprobe)
        .drop("_rn")
    )


# D4-style prototype pruning (Tirumala et al. 2023, arXiv:2308.12284):
# after semantic dedup, the docs CLOSEST to their cluster centroid are the
# most prototypical/redundant region of the cluster — dropping a fixed
# fraction of them diversifies the corpus. Fraction in ppm (integer math).
DENSITY_PRUNE_PPM = 250_000
# histogram grid: micro-distances (rounded-6 dist * 1e6) DIV this. 64-dim
# unit-scale embeddings put squared L2 in [0, ~4] -> <= ~4k buckets per
# cell -> the cutoff table stays bounded at any corpus size.
DENSITY_GRID = 1000


def density_prune(
    emb: DataFrame,
    centroids: DataFrame,
    prune_ppm: int = DENSITY_PRUNE_PPM,
    grid: int = DENSITY_GRID,
    vec_col: str = "e",
    id_col: str = "vec_id",
    ordered: bool = True,
) -> DataFrame:
    """D4 density/prototype pruning: within each quantizer cell, drop the
    ``prune_ppm``-fraction of vectors NEAREST their centroid (most
    prototypical), keeping the diverse remainder. Returns
    (id, cid, kept) for every input row.

    The per-cell quantile is NOT a per-cell global sort (k=16 cells would
    funnel corpus/16 rows through single tasks — the skew-by-construction
    shape _PAIR_SALT exists to kill): it is the ppl_bucket pattern — a
    BOUNDED histogram of integer milli-distances per cell (map-side
    combinable groupBy), a tiny cumulative window over <= ~4k buckets x k
    cells, and the k-row cutoff table broadcast back. kept = bucket >=
    cutoff, value-only tie policy: the boundary bucket survives whole, so
    the realized drop fraction is <= prune_ppm, short by at most the
    boundary bucket's mass (exactly CCNet ppl_bucket's cutoff
    semantics). Corpus-wide cost: the assignment's one per-id exchange +
    one histogram aggregation; the join back is a broadcast.

    Integer discipline end-to-end (micro-dist CAST, DIV grid, ppm quota)
    so the DuckDB twin (ivf_exact_sql_ctes(proto_ppm=...)) compares
    exactly; rounded-6 distances are within 1 ulp of integral after *1e6,
    so the CAST-ROUND is engine-stable (the exact-family argument).

    The bucketed assignment feeds BOTH the histogram and the final
    labels; lazy, Spark re-derives it per consumer (two corpus passes —
    the executed-plan reading in EXPLAIN.md r13), so the 3-column frame
    is materialized once (io.checkpoint, owned by the caller's io scope).
    """
    asg = ivf_assign_exact(
        emb, centroids, vec_col=vec_col, nprobe=1, id_col=id_col, dist_col="_d"
    )
    b = F.expr(f"CAST(ROUND(_d * 1000000, 0) AS BIGINT) div {int(grid)}")
    asgb = checkpoint(asg.select(id_col, "cid", b.alias("b")))
    hist = asgb.groupBy("cid", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.partitionBy("cid").orderBy("b")
    cut = (
        hist.select(
            "cid",
            "b",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(Window.partitionBy("cid")).alias("n_cell"),
        )
        .filter(F.col("cum") >= F.expr(f"(n_cell * {int(prune_ppm)}) div 1000000"))
        .groupBy("cid")
        .agg(F.min("b").alias("cutoff"))
    )
    out = asgb.join(F.broadcast(cut), "cid").select(
        id_col,
        "cid",
        (F.col("b") >= F.col("cutoff")).alias("kept"),
    )
    return out.orderBy(id_col) if ordered else out


# salt width for the cell-keyed pair self-join: with only k (=16) join keys
# at most k tasks do the O(sum n_c^2) cosine work — a skew-by-construction
# join. Salting the left side and replicating the right side S ways spreads
# each cell's pair block over S partitions (pair set unchanged: each (v1,v2)
# still meets exactly once, in v1's salt bucket).
_PAIR_SALT = 16


def ivf_near_dup_pairs_exact(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.25,
    nprobe: int = 2,
) -> DataFrame:
    """ivf_near_dup_pairs over the exact assignment — the hash-checkable
    IVF-blocked pair generator (pair verification was already exact; the
    blocking now is too).

    r12 cold-cost work (VERDICT r11 item 2): the assignment subtree is
    checkpointed (io.checkpoint, owned by the caller's io scope) so the
    self-join evaluates it once instead of twice. The cell-keyed
    self-join is SALTED (_PAIR_SALT): 16 cells means 16-way parallelism
    at best for the quadratic per-cell cosine work; salting fans it out to 16*_PAIR_SALT tasks (measured
    4.4 s -> 1.4 s warm at sf0.1 on 32 cores)."""
    assigned = checkpoint(ivf_assign_exact(emb, centroids, nprobe=nprobe))
    a = assigned.select(
        F.col("vec_id").alias("v1"), F.col("e").alias("e1"), F.col("nrm").alias("n1"),
        "cid",
        F.pmod(F.hash("vec_id"), F.lit(_PAIR_SALT)).alias("_s"),
    )
    b = assigned.select(
        F.col("vec_id").alias("v2"), F.col("e").alias("e2"), F.col("nrm").alias("n2"),
        "cid",
        F.explode(F.sequence(F.lit(0), F.lit(_PAIR_SALT - 1))).alias("_s"),
    )
    return (
        a.join(b, ["cid", "_s"])
        .filter(F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.round(
                _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 4
            ).alias("cosine"),
        )
        .groupBy("v1", "v2")
        .agg(F.first("cosine").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("v1", "v2")
    )


def ivf_exact_sql_ctes(
    k: int = IVF_EXACT_K,
    n_iter: int = IVF_EXACT_ITERS,
    train_sample: int = IVF_EXACT_SAMPLE,
    nprobe: int = 2,
    threshold: float = 0.25,
    proto_ppm: int | None = None,
    proto_grid: int = DENSITY_GRID,
) -> str:
    """DuckDB CTE chain training the SAME exact model IN SQL (fixed-depth,
    like pagerank_sql_ctes — no literal centroids, so the oracle string
    stays SF-generic) and emitting the blocked-verified pair set as
    ``ivq_pairs(v1, v2, cosine)``. Prefix ``ivq_`` reserved (embedded-
    oracle namespace ritual). Expects the ``embeddings`` view.

    ``proto_ppm`` (r13) additionally appends density_prune's twin —
    ``ivq_proto(vec_id, cid, kept)``: nprobe-1 assignment with the
    rounded distance, milli-bucket histogram, per-cell ppm-quota cutoff,
    kept = bucket >= cutoff (value-only ties, boundary bucket survives).
    Default None keeps the emitted string byte-identical for existing
    embedders (corpus_report)."""

    def dist(v: str, c: str) -> str:
        return (
            f"ROUND(list_sum(list_transform(list_zip({v}, {c}),"
            f" p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
        )

    parts = [
        "ivq_emb AS MATERIALIZED (\n"
        "  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings\n"
        ")",
        f"ivq_samp AS MATERIALIZED (\n"
        f"  SELECT vec_id, e FROM ivq_emb ORDER BY vec_id LIMIT {train_sample}\n"
        f")",
        f"ivq_c0 AS (\n"
        f"  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS c\n"
        f"  FROM (SELECT vec_id, e FROM ivq_samp ORDER BY vec_id LIMIT {k})\n"
        f")",
    ]
    prev = "ivq_c0"
    for r in range(1, n_iter + 1):
        parts.append(
            f"ivq_a{r} AS (\n"
            f"  SELECT vec_id, e, cid FROM (\n"
            f"    SELECT s.vec_id, s.e, c.cid,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY s.vec_id\n"
            f"             ORDER BY {dist('s.e', 'c.c')}, c.cid) AS rn\n"
            f"    FROM ivq_samp s CROSS JOIN {prev} c\n"
            f"  ) WHERE rn = 1\n"
            f")"
        )
        parts.append(
            f"ivq_m{r} AS (\n"
            f"  SELECT cid, list(mv ORDER BY pos) AS c FROM (\n"
            f"    SELECT a.cid, g.pos, ROUND(SUM(list_extract(a.e, g.pos))\n"
            f"             / COUNT(1), 6) AS mv\n"
            f"    FROM ivq_a{r} a, unnest(generate_series(1, len(a.e))) AS g(pos)\n"
            f"    GROUP BY a.cid, g.pos\n"
            f"  ) GROUP BY cid\n"
            f")"
        )
        parts.append(
            f"ivq_c{r} AS (\n"
            f"  SELECT p.cid, COALESCE(m.c, p.c) AS c\n"
            f"  FROM {prev} p LEFT JOIN ivq_m{r} m USING (cid)\n"
            f")"
        )
        prev = f"ivq_c{r}"
    parts.append(
        f"ivq_asg AS (\n"
        f"  SELECT vec_id, e, cid FROM (\n"
        f"    SELECT v.vec_id, v.e, c.cid,\n"
        f"           ROW_NUMBER() OVER (PARTITION BY v.vec_id\n"
        f"             ORDER BY {dist('v.e', 'c.c')}, c.cid) AS rn\n"
        f"    FROM ivq_emb v CROSS JOIN {prev} c\n"
        f"  ) WHERE rn <= {nprobe}\n"
        f")",
    )
    parts.append(
        f"ivq_pairs AS (\n"
        f"  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,\n"
        f"         ROUND(list_cosine_similarity(a.e, b.e), 4) AS cosine\n"
        f"  FROM ivq_asg a JOIN ivq_asg b\n"
        f"    ON a.cid = b.cid AND a.vec_id < b.vec_id\n"
        f"  WHERE ROUND(list_cosine_similarity(a.e, b.e), 4) >= {threshold}\n"
        f")"
    )
    if proto_ppm is not None:
        parts.append(
            f"ivq_p_asg AS (\n"
            f"  SELECT vec_id, cid,\n"
            f"         CAST(ROUND(d * 1000000, 0) AS BIGINT) // {int(proto_grid)} AS b\n"
            f"  FROM (\n"
            f"    SELECT v.vec_id, c.cid, {dist('v.e', 'c.c')} AS d,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY v.vec_id\n"
            f"             ORDER BY {dist('v.e', 'c.c')}, c.cid) AS rn\n"
            f"    FROM ivq_emb v CROSS JOIN {prev} c\n"
            f"  ) WHERE rn = 1\n"
            f")"
        )
        parts.append(
            "ivq_p_hist AS (\n"
            "  SELECT cid, b, COUNT(1) AS cnt FROM ivq_p_asg GROUP BY cid, b\n"
            ")"
        )
        parts.append(
            f"ivq_p_cut AS (\n"
            f"  SELECT cid, MIN(b) AS cutoff FROM (\n"
            f"    SELECT cid, b,\n"
            f"           SUM(cnt) OVER (PARTITION BY cid ORDER BY b) AS cum,\n"
            f"           SUM(cnt) OVER (PARTITION BY cid) AS n_cell\n"
            f"    FROM ivq_p_hist\n"
            f"  ) WHERE cum >= (n_cell * {int(proto_ppm)}) // 1000000\n"
            f"  GROUP BY cid\n"
            f")"
        )
        parts.append(
            "ivq_proto AS (\n"
            "  SELECT a.vec_id, a.cid, a.b >= c.cutoff AS kept\n"
            "  FROM ivq_p_asg a JOIN ivq_p_cut c USING (cid)\n"
            ")"
        )
    return ",\n".join(parts)
