"""Link-analysis centrality over document pair graphs.

PageRank (Page et al. 1999, "The PageRank Citation Ranking: Bringing
Order to the Web") over the UNDIRECTED near-dup pair graph, in
fixed-point parts-per-billion (ppb) BIGINT arithmetic so the result is
EXACTLY reproducible across engines: Spark's ``div`` and DuckDB's ``//``
agree (floor == truncate) for the non-negative operands used here, and
integer sums are order-independent, so the driver's value-hash check is
exact — no float-drift tolerance needed.

Why it's in the engine: after near-dup pair generation, a curation
pipeline picks ONE canonical document per duplicate cluster. Min-id (the
``dedup_clusters`` default) is arbitrary; centrality-based selection
keeps the member most connected to the rest of its cluster — the same
link-analysis signal crawl pipelines use for page quality (cf. Common
Crawl's harmonic-centrality rankings). The reference repo has no graph
operator at all (its ``transformer.py`` is row-at-a-time text shaping),
so this is engine-side added surface, certified like everything else.

Semantics (K fixed iterations, damping d = 0.85 in ppb):

    N        = |nodes appearing in any edge|   (degree >= 1, no dangling)
    r0(v)    = 10^9 div N
    share(u) = r(u) div deg(u)
    r'(v)    = (1.5*10^8 div N) + (85*10^7 * sum_{u~v} share(u)) div 10^9

Every op is BIGINT; the damped product is bounded by 8.5e8 * 1e9 < 2^63.
Floor losses only ever shrink total mass, so sum(r) <= 10^9 invariantly.

Scale shape: each round is ONE equi-join (symmetric edges ⋈ ranks on the
node key) + ONE sum-aggregate keyed by neighbor — the exact shuffle
footprint of a ``connected_components`` round, linear in |E| per round,
no driver-side data beyond the one bounded N scalar. Lineage is
truncated per round with localCheckpoint (cluster analog: reliable
checkpoint / intermediate table) and the superseded round's blocks are
freed deterministically, so peak storage is O(|V|), not O(rounds*|V|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import checkpoint, free_local_checkpoint

PAGERANK_ITERS = 5
MASS_PPB = 1_000_000_000
DAMP_PPB = 850_000_000
TELEPORT_PPB = MASS_PPB - DAMP_PPB


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """(node, nbr) symmetric closure of an undirected (d1, d2) pair table —
    THE edge normalization shared by connected_components and pagerank
    (pair generators emit distinct d1 < d2 rows, so the two directed
    copies cannot collide; pagerank's degree math is sensitive to
    duplicate edges, so any future change to this normalization must stay
    shared)."""
    return edges.select(
        F.col("d1").alias("node"), F.col("d2").alias("nbr")
    ).unionByName(edges.select(F.col("d2").alias("node"), F.col("d1").alias("nbr")))


def pagerank(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    own_edges: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Fixed-point PageRank over an undirected (d1, d2) pair graph.

    Returns (doc_id, pagerank_ppb) for every node appearing in an edge.
    ``own_edges=False`` means the caller already holds an eager
    checkpoint of ``edges`` and keeps ownership (the ``dedup_clusters``
    gate shares one edge checkpoint between components and pagerank).
    The returned frame is a lazy projection over the final ranks
    checkpoint, which the caller's io scope owns (the
    ``connected_components`` contract).

    ``checkpoint_every`` bounds lineage depth: unlike the convergence
    loop in ``connected_components`` (which needs a per-round action for
    its changed-count anyway), a fixed-K rank loop needs NO per-round
    action — so short runs build one lazy K-deep join chain that AQE
    executes as a single job at the final materialization, instead of
    paying K job-scheduling round trips. Long runs (iters > this) still
    truncate periodically so the plan tree and recovery cost stay
    bounded.
    """
    if own_edges:
        edges = edges.localCheckpoint(eager=True)
    sym = symmetric_edges(edges)
    # Degree table is read every round — materialize once. The count()
    # is the one bounded driver scalar (node cardinality), same budget
    # class as connected_components' per-round convergence counts.
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(eager=True)
    n = deg.count()
    if n == 0:
        free_local_checkpoint(deg)
        if own_edges:
            free_local_checkpoint(edges)
        # a literal empty frame, NOT a select over the freed deg
        # checkpoint — a freed DataFrame is unusable by contract (reading
        # it throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND whenever AQE's
        # empty-partition coalescing doesn't happen to mask it)
        return edges.sparkSession.createDataFrame(
            [], "doc_id long, pagerank_ppb long"
        )
    base = TELEPORT_PPB // n
    ranks = deg.select("node", F.lit(MASS_PPB // n).cast("long").alias("r"))
    mid_ckpts: list[DataFrame] = []
    for k in range(1, iters + 1):
        shares = (
            ranks.join(deg, "node")
            .select("node", F.expr("r div deg").alias("share"))
        )
        ranks = (
            sym.join(shares, "node")
            .groupBy("nbr")
            .agg(
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({DAMP_PPB} * sum(share)) div {MASS_PPB}")
                ).alias("r")
            )
            .select(F.col("nbr").alias("node"), "r")
        )
        if k % checkpoint_every == 0 and k < iters:
            ranks = ranks.localCheckpoint(eager=True)
            mid_ckpts.append(ranks)
    # The final materialization is the loop's ONLY action for short runs.
    ranks = checkpoint(ranks)
    for c in mid_ckpts:  # superseded truncation points, never read again
        free_local_checkpoint(c)
    free_local_checkpoint(deg)
    if own_edges:
        free_local_checkpoint(edges)
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("r").cast("long").alias("pagerank_ppb")
    )


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w_ppm",
    iters: int = PAGERANK_ITERS,
    own_edges: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Similarity-weighted PageRank over an undirected (d1, d2, weight)
    pair graph — mass flows proportionally to edge weight, so the most
    central member of a near-dup cluster is the one most STRONGLY similar
    to the rest, not merely the most connected (the natural refinement
    when edges carry verified jaccard/cosine: weight = the similarity in
    integer ppm).

    Fixed-point semantics, all BIGINT (weights must be positive integers,
    e.g. CAST(round(jaccard * 1e6)) — the pair tables' rounded-6 doubles
    scale to exact ppm):

        W(u)          = sum of u's incident weights
        share(u -> v) = (r(u) * w(uv)) div W(u)        [per edge]
        r'(v)         = TELEPORT div N + (DAMP * sum share) div MASS

    With constant weights this reproduces `pagerank` EXACTLY
    (floor((r*c)/(deg*c)) == floor(r/deg)) — pinned in tests, so the two
    functions cannot drift. Bounds: r <= 10^9 inductively and w <= 10^6
    ppm keep r*w <= 10^15 < 2^63. Same shuffle shape as the unweighted
    loop — the node-sized ranks⋈wsum join happens FIRST, then ONE
    edge-sized equi-join + one neighbor-keyed sum per round (joining
    wsum to the expanded edge table instead would drag 2|E| rows through
    a second join every round — review r10).

    Weights are VALIDATED up front (ADVICE r10): a NULL / zero / negative
    weight would make ``(r * w) div wsum`` yield NULL, which ``sum``
    silently skips — ranks silently lose mass instead of erroring — and a
    fractional weight would be silently truncated by the BIGINT cast. One
    limit-1 scan over the (checkpointed) edge blocks fails loudly instead.
    """
    if own_edges:
        edges = edges.localCheckpoint(eager=True)
    w = F.col(weight_col)
    wd = w.cast("double")
    # Magnitude bound (ADVICE r11): the share expression computes r * w in
    # BIGINT with r <= MASS_PPB inductively, so any w above
    # (2^63 - 1) div MASS_PPB can wrap int64 — silently, in non-ANSI
    # Spark, while DuckDB raises, diverging the twins instead of failing
    # loudly. ppm-scaled similarities (<= 1e6) sit 4 orders of magnitude
    # under the bound; a caller passing raw large integers hits it here.
    w_max = (2**63 - 1) // MASS_PPB
    bad = (
        edges.filter(
            wd.isNull()
            | (wd <= 0)
            | (wd != F.floor(wd).cast("double"))
            | (wd > float(w_max))
        )
        .limit(1)
        .count()
    )
    if bad:
        if own_edges:
            free_local_checkpoint(edges)
        raise ValueError(
            f"pagerank_weighted: {weight_col} must be a positive integer "
            f"<= {w_max} (= (2^63 - 1) div MASS_PPB, the r * w int64 "
            "overflow bound; similarities in ppm are well inside it: "
            "CAST(round(jaccard * 1e6) AS BIGINT)); found a NULL, "
            "non-positive, fractional, or oversized weight"
        )
    sym = edges.select(
        F.col("d1").alias("node"), F.col("d2").alias("nbr"), w.cast("long").alias("w")
    ).unionByName(
        edges.select(
            F.col("d2").alias("node"), F.col("d1").alias("nbr"), w.cast("long").alias("w")
        )
    )
    wsum = (
        sym.groupBy("node").agg(F.sum("w").alias("wsum")).localCheckpoint(eager=True)
    )
    n = wsum.count()
    if n == 0:
        free_local_checkpoint(wsum)
        if own_edges:
            free_local_checkpoint(edges)
        return edges.sparkSession.createDataFrame(
            [], "doc_id long, pagerank_ppb long"
        )
    base = TELEPORT_PPB // n
    ranks = wsum.select("node", F.lit(MASS_PPB // n).cast("long").alias("r"))
    mid_ckpts: list[DataFrame] = []
    for k in range(1, iters + 1):
        contrib = sym.join(ranks.join(wsum, "node"), "node").select(
            "nbr", F.expr("(r * w) div wsum").alias("share")
        )
        ranks = (
            contrib.groupBy("nbr")
            .agg(
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({DAMP_PPB} * sum(share)) div {MASS_PPB}")
                ).alias("r")
            )
            .select(F.col("nbr").alias("node"), "r")
        )
        if k % checkpoint_every == 0 and k < iters:
            ranks = ranks.localCheckpoint(eager=True)
            mid_ckpts.append(ranks)
    ranks = checkpoint(ranks)
    for c in mid_ckpts:
        free_local_checkpoint(c)
    free_local_checkpoint(wsum)
    if own_edges:
        free_local_checkpoint(edges)
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("r").cast("long").alias("pagerank_ppb")
    )


def pagerank_sql_ctes(iters: int = PAGERANK_ITERS) -> str:
    """DuckDB CTE chain mirroring :func:`pagerank` exactly, for embedding
    in gate oracles. Expects an ``e(node, nbr)`` symmetric-edge CTE in
    scope (the ``dedup_clusters`` oracle already defines one). Emits
    ``pr_deg``, ``pr_n`` and ``pr_r0`` .. ``pr_r{iters}``; the final CTE
    holds (node, r). The ``pr_`` prefix keeps these names clear of every
    embedded-oracle namespace (ritual: stream_stateful embeds other
    oracles' CTEs at its top level — prefixes must not collide).

    ``pr_deg`` is multiply-referenced (every round) — MATERIALIZED, or
    DuckDB re-inlines the whole upstream pair pipeline per reference
    (the r09 25s->0.17s lesson).
    """
    parts = [
        "pr_deg AS MATERIALIZED (\n"
        "  SELECT node, COUNT(1) AS deg FROM e GROUP BY node\n"
        ")",
        "pr_n AS (SELECT COUNT(1) AS n FROM pr_deg)",
        f"pr_r0 AS (\n"
        f"  SELECT node, CAST({MASS_PPB} // (SELECT n FROM pr_n) AS BIGINT) AS r\n"
        f"  FROM pr_deg\n"
        f")",
    ]
    prev = "pr_r0"
    for k in range(1, iters + 1):
        parts.append(
            f"pr_r{k} AS (\n"
            f"  SELECT e.nbr AS node,\n"
            f"         CAST({TELEPORT_PPB} // (SELECT n FROM pr_n)\n"
            f"              + ({DAMP_PPB} * SUM(p.r // d.deg)) // {MASS_PPB}\n"
            f"              AS BIGINT) AS r\n"
            f"  FROM e\n"
            f"  JOIN {prev} p ON p.node = e.node\n"
            f"  JOIN pr_deg d ON d.node = e.node\n"
            f"  GROUP BY e.nbr\n"
            f")"
        )
        prev = f"pr_r{k}"
    return ",\n".join(parts)


PAGERANK_FINAL_CTE = f"pr_r{PAGERANK_ITERS}"


def pagerank_weighted_sql_ctes(iters: int = PAGERANK_ITERS) -> str:
    """DuckDB CTE chain mirroring :func:`pagerank_weighted` exactly, for
    embedding in gate oracles. Expects a ``we(node, nbr, w)`` symmetric
    WEIGHTED edge CTE in scope (w = positive integer, e.g. jaccard ppm).
    Emits ``prw_wsum``, ``prw_n`` and ``prw_r0`` .. ``prw_r{iters}``; the
    final CTE holds (node, r). The ``prw_`` prefix is reserved alongside
    ``pr_`` (ritual: embedded-oracle CTE names must not collide).

    DuckDB ``//`` is floor division and Spark ``div`` truncates — they
    agree because every operand here is non-negative (w validated > 0,
    r >= teleport > 0 inductively). ``prw_wsum`` is multiply-referenced
    (every round) — MATERIALIZED per the r09 re-inlining lesson.
    """
    parts = [
        "prw_wsum AS MATERIALIZED (\n"
        "  SELECT node, SUM(w) AS wsum FROM we GROUP BY node\n"
        ")",
        "prw_n AS (SELECT COUNT(1) AS n FROM prw_wsum)",
        f"prw_r0 AS (\n"
        f"  SELECT node, CAST({MASS_PPB} // (SELECT n FROM prw_n) AS BIGINT) AS r\n"
        f"  FROM prw_wsum\n"
        f")",
    ]
    prev = "prw_r0"
    for k in range(1, iters + 1):
        parts.append(
            f"prw_r{k} AS (\n"
            f"  SELECT we.nbr AS node,\n"
            f"         CAST({TELEPORT_PPB} // (SELECT n FROM prw_n)\n"
            f"              + ({DAMP_PPB} * SUM((p.r * we.w) // s.wsum)) // {MASS_PPB}\n"
            f"              AS BIGINT) AS r\n"
            f"  FROM we\n"
            f"  JOIN {prev} p ON p.node = we.node\n"
            f"  JOIN prw_wsum s ON s.node = we.node\n"
            f"  GROUP BY we.nbr\n"
            f")"
        )
        prev = f"prw_r{k}"
    return ",\n".join(parts)


PAGERANK_W_FINAL_CTE = f"prw_r{PAGERANK_ITERS}"
