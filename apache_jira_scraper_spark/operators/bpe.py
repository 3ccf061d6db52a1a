"""Distributed BPE merge training (SURVEY.md §2.11 extension — real
byte-pair-encoding tokenizer training, Sennrich et al. 2016, completing
the tokenizer story past build_vocab's frequency top-k: build_vocab picks
pieces, THIS learns the merge rules that define pieces).

Spark-first decomposition — the shape HuggingFace tokenizers uses, made
distributed:

  word table   ONE corpus-sized shuffle up front: whitespace words ->
               (word, freq). Everything after runs over this
               VOCABULARY-SIZED table, never the corpus again — at
               100 TB the corpus pass is the only heavy stage, and it is
               a plain partial-agg count.
  merge round  symbols start as characters; each round (a) explodes
               each word's adjacent symbol pairs weighted by freq and
               partial-agg counts them (a vocabulary-sized shuffle),
               (b) lands exactly ONE row on the driver (the argmax pair,
               ties broken count DESC then pair lexicographic — fully
               deterministic), (c) applies the merge to every word's
               symbol array as a zero-shuffle left-to-right greedy fold
               (pure column algebra), localCheckpointing the word table
               so the plan stays flat across rounds (the Lloyd/pagerank
               iteration discipline).

No SQL twin: the merge loop is inherently iterative (each round's
tokenization depends on the previous round's argmax), the same class as
connected components' closure — correctness is pinned against a
pure-Python Sennrich reference instead (tests/test_bpe.py), which must
reproduce the merge SEQUENCE and the encoded corpus exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default merge budget for the library demo — real tokenizers run 30k+
#: rounds with the same per-round shape; the budget only bounds rounds,
#: not correctness (pinned vs the reference at any count)
BPE_MERGES = 20

#: merge budget for the DRIVER GATE (the 'bpe_merge'/'bpe_seg' legs of
#: text_quality_signals): the SQL twin chains one CTE triple per merge
#: (the ivf_exact_sql_ctes fixed-depth discipline), so the certified
#: count stays small; the unbounded-merge-count check is the pure-Python
#: Sennrich parity in tests/test_bpe.py
BPE_GATE_MERGES = 8

#: merge-pair separator inside the driver-side merge table; symbols are
#: built from whitespace-split words, so a space can never occur inside
#: a symbol and the key is collision-free (the bigram-key argument)
_SEP = " "


def _chars_col(word: Column) -> Column:
    """Initial symbol sequence: the word's characters. split on the empty
    pattern yields leading/trailing '' entries on some engines — filter
    keeps exactly the characters."""
    return F.filter(F.split(word, ""), lambda c: c != "")


def _merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left, right) -> left||right to a symbol array as
    a left-to-right greedy fold: walk the symbols, and whenever the last
    emitted symbol is `left` and the incoming one is `right`, replace the
    pair with the merged symbol. Overlaps resolve left-first exactly like
    the reference implementation ('aaa' under (a,a) -> ['aa', 'a']):
    the merged symbol differs from `left`, so it cannot chain."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda out, x: F.when(
            (F.size(out) > 0)
            & (F.element_at(out, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(out, 1, F.size(out) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(out, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    batch: int = 1,
    counts_out: list | None = None,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn `n_merges` BPE merges from the corpus. Returns
    (merges, encoded_words) where merges is the ordered driver-side rule
    list [(left, right), ...] (O(n_merges) — model-sized by construction)
    and encoded_words is the final (word, freq, symbols) DataFrame (the
    trained segmentation of the word vocabulary, an io.checkpoint owned
    by the caller's io scope).

    Every iteration is: one vocabulary-sized pair-count shuffle + a
    bounded driver collect + a zero-shuffle merge fold. A round that no
    longer has any pair to merge (count 0 / empty table) stops training
    early — returning fewer merges than budgeted, never a dummy rule.

    ``batch`` > 1 is the standard distributed-BPE round mitigation
    (VERDICT r12 item 5): per round, accept up to `batch` pairs from the
    SAME count table, greedily in (count DESC, l, r) order, skipping any
    pair that shares a symbol with an already-accepted one. Disjointness
    guarantees every accepted pair's count is still exact at application
    time (merging (a,b) can neither create nor destroy an occurrence of
    a symbol-disjoint (c,d)), so rounds — i.e. sequential Spark jobs —
    drop to ~n_merges/batch. The SELECTION can diverge from strict
    sequential BPE only when a freshly-merged symbol would immediately
    have formed a higher-count pair than the next accepted one
    (tests/test_bpe.py pins batch=1 equivalence exactly and batched
    equivalence on non-interacting corpora).

    ``counts_out``: when given, receives each accepted pair's exact
    corpus count at selection time (int, aligned with `merges`) — the
    gate certifies these under the driver hash."""
    from ..io import checkpoint, free_local_checkpoint

    if batch < 1:
        raise ValueError(f"bpe_train: batch must be >= 1, got {batch}")
    words = checkpoint(
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", _chars_col(F.col("w")).alias("symbols"))
    )
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        pairs = words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.expr("slice(symbols, 1, size(symbols) - 1)"),
                    F.expr("slice(symbols, 2, size(symbols) - 1)"),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
        # over-collect 8x the batch: disjointness-rejected candidates are
        # skipped driver-side without another Spark round trip (top is
        # model-sized either way; batch=1 degenerates to the argmax row)
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(want if want == 1 else want * 8)
            .collect()
        )
        if not top:
            break
        accepted: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in top:
            if row["l"] in used or row["r"] in used:
                continue
            accepted.append((row["l"], row["r"]))
            if counts_out is not None:
                counts_out.append(int(row["c"]))
            used.add(row["l"])
            used.add(row["r"])
            if len(accepted) == want:
                break
        merges.extend(accepted)
        sym: Column = F.col("symbols")
        for left, right in accepted:
            sym = _merge_fold(sym, left, right)
        nxt = checkpoint(words.select("w", "freq", sym.alias("symbols")))
        free_local_checkpoint(words)
        words = nxt
    return merges, words


def bpe_vocab(
    merges: list[tuple[str, str]], encoded_words: DataFrame
) -> DataFrame:
    """The id table a trained BPE model ships: base alphabet first
    (lexicographic, ids 0..A-1 — deterministic), then one token per merge
    in training order (ids A..A+n_merges-1 — the GPT-2 layout, where a
    token's id encodes its merge priority). The alphabet comes from the
    trained word table's symbols re-split to characters, so it covers
    exactly the training corpus. Returns (id, piece)."""
    spark = encoded_words.sparkSession
    alpha = sorted(
        r["c"]
        for r in encoded_words.select(
            F.explode(
                F.array_distinct(
                    F.flatten(F.transform("symbols", lambda s: _chars_col(s)))
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    rows = [(i, c) for i, c in enumerate(alpha)] + [
        (len(alpha) + i, a + b) for i, (a, b) in enumerate(merges)
    ]
    # two different merges can yield the same SURFACE string (e.g.
    # (a,bc) and (ab,c) -> 'abc'); a vocab keyed by piece keeps the
    # FIRST id (dict-insertion semantics, the HF tokenizers convention)
    # so encode joins stay one-to-one
    seen: set[str] = set()
    uniq = []
    for i, p in rows:
        if p not in seen:
            seen.add(p)
            uniq.append((i, p))
    return spark.createDataFrame(uniq, "id int, piece string")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
    encoded_words: DataFrame | None = None,
    segmented: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Text -> BPE token-id arrays under a trained model: bpe_segment then
    a BROADCAST join of the exploded pieces to the vocab (a BPE vocab is
    32k-256k rows — always broadcastable, the encode_with_vocab argument)
    and ONE doc-keyed reassembly shuffle in piece order. Pieces outside
    the vocab (unseen characters in new text) map to `unk_id`. Returns
    (id, n_pieces, ids array<int>) row-aligned with the input corpus.
    Pass bpe_train's `encoded_words` table to segment via the word-keyed
    join (the scale path) instead of the rank-by-rank fold; the inner
    segmentation runs unordered either way (ADVICE r12: the posexplode +
    doc-keyed reassembly below makes an inner presentation sort a wasted
    corpus-wide range shuffle). A caller that already materialized the
    (id, pieces) frame passes it as `segmented` — the gate builds ONE
    segmentation for both its seg and ids legs instead of two corpus
    subtrees (review r13). ordered=False skips the final presentation
    sort for composition callers (the exact_substring_dedup contract)."""
    seg = (
        segmented
        if segmented is not None
        else bpe_segment(
            df,
            merges,
            text_col=text_col,
            id_col=id_col,
            encoded_words=encoded_words,
            ordered=False,
        )
    )
    pos = seg.select(id_col, F.posexplode("pieces").alias("pos", "piece"))
    vid = vocab.select("piece", F.col("id").cast("int").alias("_vid"))
    encoded = (
        pos.join(F.broadcast(vid), "piece", "left")
        .select(
            id_col,
            F.struct(
                F.col("pos"),
                F.coalesce("_vid", F.lit(unk_id).cast("int")).alias("tid"),
            ).alias("pi"),
        )
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pi")), lambda s: s["tid"]
            ).alias("ids")
        )
    )
    out = (
        df.select(id_col)
        .join(encoded, id_col, "left")
        .select(
            id_col,
            F.coalesce("ids", F.array().cast("array<int>")).alias("ids"),
        )
        .select(id_col, F.size("ids").alias("n_pieces"), "ids")
    )
    return out.orderBy(id_col) if ordered else out


def _fold_all(symbols: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply every merge rank-by-rank to one symbol array as a single
    nested expression (no checkpoints — callers bound the depth)."""
    for left, right in merges:
        symbols = _merge_fold(symbols, left, right)
    return symbols


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 8,
    encoded_words: DataFrame | None = None,
    oov: str = "fold",
    ordered: bool = True,
) -> DataFrame:
    """Segment a corpus under a trained merge list: per doc, the
    whitespace words' BPE symbols concatenated in order. Returns
    (id, n_pieces, pieces array<string>).

    Two paths (VERDICT r12 item 3):

    - ``encoded_words`` given (bpe_train's trained (w, freq, symbols)
      table) — THE SCALE PATH: posexplode the corpus words, equi-join
      the word table on ``w`` (hint-free: AQE broadcasts the
      vocabulary-sized side at small SF and demotes to a shuffle join at
      scale), and reassemble with ONE doc-keyed shuffle. The corpus is
      touched twice total regardless of n_merges — at a production 30k
      merge vocabulary the rank-by-rank path below would be 30k
      sequential corpus passes. Out-of-vocabulary words (absent from
      training) fall back per ``oov``: ``"fold"`` (default) applies the
      merge rules inline via coalesce — exact training semantics, plan
      depth O(n_merges), right for demo-scale rule lists; ``"chars"``
      emits the raw characters (the UNK-style fallback a 30k-rule
      production model uses, keeping the plan depth O(1)).
    - ``encoded_words`` None: rank-by-rank fold over the corpus (BPE's
      apply order IS the training order). Each merge is a zero-shuffle
      narrow fold; every ``checkpoint_every`` merges the chain is
      truncated with an EAGER localCheckpoint and the superseded
      checkpoint freed once its successor materializes (ADVICE r12 —
      previously lazy checkpoints pinned corpus-sized blocks for the
      session lifetime). Every checkpoint is an io.checkpoint; the FINAL
      one backs the returned frame and stays with the caller's io scope.

    ``ordered=False`` skips the presentation sort (the
    exact_substring_dedup contract)."""
    if encoded_words is not None:
        out = _bpe_segment_join(
            df, merges, encoded_words, text_col, id_col, oov
        )
        return out.orderBy(id_col) if ordered else out
    out = df.select(
        id_col,
        F.transform(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != ""),
            lambda w: _chars_col(w),
        ).alias("_ws"),
    )
    from ..io import checkpoint, free_local_checkpoint

    prev_ckpt: DataFrame | None = None
    for i, (left, right) in enumerate(merges):
        out = out.select(
            id_col,
            F.transform(
                F.col("_ws"), lambda s: _merge_fold(s, left, right)
            ).alias("_ws"),
        )
        if (i + 1) % checkpoint_every == 0:
            out = checkpoint(out)
            free_local_checkpoint(prev_ckpt)
            prev_ckpt = out
    out = out.select(
        id_col,
        F.size(F.flatten(F.col("_ws"))).alias("n_pieces"),
        F.flatten(F.col("_ws")).alias("pieces"),
    )
    return out.orderBy(id_col) if ordered else out


def _bpe_segment_join(
    df: DataFrame,
    merges: list[tuple[str, str]],
    encoded_words: DataFrame,
    text_col: str,
    id_col: str,
    oov: str,
) -> DataFrame:
    """The word-keyed join segmentation (see bpe_segment). Shape: corpus
    posexplode -> left equi-join on the trained word table -> OOV
    fallback column -> one doc-keyed reassembly shuffle -> left join back
    to the input spine so empty/whitespace-only docs keep their row with
    empty pieces (parity with the fold path)."""
    if oov not in ("fold", "chars"):
        raise ValueError(f"bpe_segment: oov must be 'fold' or 'chars', got {oov!r}")
    pos = df.select(
        id_col,
        F.posexplode(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        ).alias("_wpos", "_w"),
    )
    wt = encoded_words.select(F.col("w").alias("_w"), F.col("symbols").alias("_sym"))
    fallback = (
        _fold_all(_chars_col(F.col("_w")), merges)
        if oov == "fold"
        else _chars_col(F.col("_w"))
    )
    seg = (
        pos.join(wt, "_w", "left")
        .select(
            id_col,
            F.struct(
                F.col("_wpos"), F.coalesce("_sym", fallback).alias("s")
            ).alias("_ps"),
        )
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(F.array_sort(F.collect_list("_ps")), lambda p: p["s"])
            ).alias("pieces")
        )
    )
    return (
        df.select(id_col)
        .join(seg, id_col, "left")
        .select(
            id_col,
            F.coalesce("pieces", F.array().cast("array<string>")).alias("pieces"),
        )
        .select(id_col, F.size("pieces").alias("n_pieces"), "pieces")
    )


def bpe_gate_sql(n_merges: int = BPE_GATE_MERGES, table: str = "documents") -> str:
    """DuckDB twin of bpe_train + the join-path bpe_segment for a FIXED
    merge count — the training loop is inherently sequential, so the
    oracle chains one CTE triple per merge (pair-count argmax, then the
    greedy left-to-right merge application) exactly like
    ivf_exact_sql_ctes chains Lloyd rounds. Fully integer/string math —
    no float anywhere, so the cross-engine hash has NO rounding-boundary
    risk class at all.

    The greedy fold is restated as a window selection: a merge applies at
    symbol position i iff (s[i], s[i+1]) matches AND i sits at an EVEN
    offset within its maximal run of consecutive matching positions —
    equivalent to the left-to-right fold because a merged symbol
    (left||right != left) can never chain into the next pair.

    Emits harmonized gate rows: ('bpe_merge', rank, 'l r', 0, 0, 0) for
    the learned merge sequence and ('bpe_seg', doc_id, md5(pieces),
    n_pieces, 0, 0) for the segmented corpus. Prefix ``bq_`` reserved
    (embedded-oracle namespace ritual)."""
    parts = [
        f"bq_w0 AS MATERIALIZED (\n"
        f"  SELECT w, COUNT(1) AS freq,\n"
        f"         list_transform(range(1, length(w) + 1),\n"
        f"                        i -> substr(w, i, 1)) AS symbols\n"
        f"  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM {table})\n"
        f"  WHERE w != '' GROUP BY w\n"
        f")"
    ]
    prev = "bq_w0"
    for r in range(1, n_merges + 1):
        parts.append(
            f"bq_t{r} AS MATERIALIZED (\n"
            f"  SELECT l, r, c FROM (\n"
            f"    SELECT symbols[i] AS l, symbols[i + 1] AS r,\n"
            f"           SUM(freq) AS c\n"
            f"    FROM {prev}, unnest(range(1, len(symbols))) AS u(i)\n"
            f"    GROUP BY 1, 2\n"
            f"  ) ORDER BY c DESC, l, r LIMIT 1\n"
            f")"
        )
        parts.append(
            f"bq_x{r} AS (\n"
            f"  SELECT w, freq, pos, s,\n"
            f"         COALESCE(s = t.l AND\n"
            f"           lead(s) OVER (PARTITION BY w ORDER BY pos) = t.r,\n"
            f"           FALSE) AS mt\n"
            f"  FROM (SELECT w, freq, UNNEST(symbols) AS s,\n"
            f"               UNNEST(range(1, len(symbols) + 1)) AS pos\n"
            f"        FROM {prev})\n"
            f"  LEFT JOIN bq_t{r} t ON TRUE\n"
            f")"
        )
        parts.append(
            f"bq_w{r} AS MATERIALIZED (\n"
            f"  SELECT w, freq,\n"
            f"         list(CASE WHEN sel THEN s || next_s ELSE s END\n"
            f"              ORDER BY pos) AS symbols\n"
            f"  FROM (\n"
            f"    SELECT w, freq, pos, s, sel,\n"
            f"           lead(s) OVER (PARTITION BY w ORDER BY pos) AS next_s,\n"
            f"           lag(sel, 1, FALSE) OVER (PARTITION BY w ORDER BY pos)\n"
            f"             AS prev_sel\n"
            f"    FROM (\n"
            f"      SELECT w, freq, pos, s, mt,\n"
            f"             CASE WHEN mt THEN\n"
            f"               ROW_NUMBER() OVER (PARTITION BY w, mt, pos - mrn\n"
            f"                                  ORDER BY pos) % 2 = 1\n"
            f"             ELSE FALSE END AS sel\n"
            f"      FROM (\n"
            f"        SELECT w, freq, pos, s, mt,\n"
            f"               CASE WHEN mt THEN ROW_NUMBER() OVER\n"
            f"                 (PARTITION BY w, mt ORDER BY pos) END AS mrn\n"
            f"        FROM bq_x{r})\n"
            f"    )\n"
            f"  ) WHERE NOT prev_sel GROUP BY w, freq\n"
            f")"
        )
        prev = f"bq_w{r}"
    merge_arms = " UNION ALL ".join(
        f"SELECT {r} AS id, l || ' ' || r AS txt, c FROM bq_t{r}"
        for r in range(1, n_merges + 1)
    )
    # merged pieces take ids AFTER the alphabet in training order (the
    # GPT-2 layout bpe_vocab states)
    vocab_merge_arms = " UNION ALL ".join(
        f"SELECT l || r AS piece,"
        f" (SELECT COUNT(1) FROM bq_alpha) + {r} - 1 AS vid FROM bq_t{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
bq_cw AS (
  SELECT doc_id, UNNEST(ws) AS w,
         UNNEST(range(1, len(ws) + 1)) AS wpos
  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                                   x -> x != '') AS ws
        FROM {table})
),
bq_seg AS MATERIALIZED (
  SELECT c.doc_id, flatten(list(f.symbols ORDER BY c.wpos)) AS pieces
  FROM bq_cw c JOIN {prev} f ON c.w = f.w GROUP BY c.doc_id
),
bq_alpha AS (
  SELECT c AS piece, ROW_NUMBER() OVER (ORDER BY c) - 1 AS vid
  FROM (
    SELECT DISTINCT unnest(list_transform(range(1, length(s) + 1),
                                          i -> substr(s, i, 1))) AS c
    FROM (SELECT unnest(symbols) AS s FROM {prev})
  )
),
bq_vocab AS (
  -- keep-first on duplicate surface strings (bpe_vocab's contract)
  SELECT piece, MIN(vid) AS vid FROM (
    SELECT piece, vid FROM bq_alpha
    UNION ALL
    SELECT * FROM ({vocab_merge_arms})
  ) GROUP BY piece
),
bq_ids AS (
  SELECT doc_id,
         list(CAST(COALESCE(v.vid, -1) AS INT) ORDER BY pos) AS ids
  FROM (SELECT doc_id, UNNEST(pieces) AS piece,
               UNNEST(range(1, len(pieces) + 1)) AS pos
        FROM bq_seg) p
  LEFT JOIN bq_vocab v USING (piece)
  GROUP BY doc_id
)
SELECT 'bpe_merge' AS leg, CAST(id AS BIGINT) AS id, txt,
       CAST(c AS BIGINT) AS m1, CAST(0 AS BIGINT) AS m2,
       CAST(0 AS BIGINT) AS m3
FROM ({merge_arms})
UNION ALL
SELECT 'bpe_seg' AS leg, d.doc_id AS id,
       md5(COALESCE(array_to_string(s.pieces, ' '), '')) AS txt,
       CAST(COALESCE(len(s.pieces), 0) AS BIGINT) AS m1,
       CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
FROM {table} d LEFT JOIN bq_seg s ON d.doc_id = s.doc_id
UNION ALL
SELECT 'bpe_ids' AS leg, d.doc_id AS id,
       md5(COALESCE(array_to_string(i.ids, ','), '')) AS txt,
       CAST(COALESCE(len(i.ids), 0) AS BIGINT) AS m1,
       CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m3
FROM {table} d LEFT JOIN bq_ids i ON d.doc_id = i.doc_id
"""
    )


def bpe_tokenize_and_pack(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    seq_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame, DataFrame]:
    """The end-to-end pretraining tokenization pipeline in one call:
    train the BPE model on the corpus, encode every document to token
    ids via the JOIN-path segmentation (the scale path), and pack the
    global id stream into fixed `seq_len` training windows. Returns
    (merges, vocab, sequences) where sequences is
    (seq_id, n_tokens, ids) — the artifact a data pipeline lands to
    object storage for the trainer.

    Every stage is the already-certified machinery composed: bpe_train
    (driver gate 'bpe_merge'), bpe_segment's word-keyed join inside
    bpe_encode ('bpe_seg'), and text.pack_token_ids ('tokpack') — so the
    composition is certified piecewise and this function only owns the
    plumbing. Note the trained word table's checkpoint, owned by the
    caller's io scope, stays referenced by the returned sequences' LAZY
    plan — materialize (or persist) sequences before the scope closes."""
    from .text import PACK_CONTEXT, pack_token_ids

    merges, words = bpe_train(
        docs, n_merges=n_merges, text_col=text_col, batch=batch
    )
    vocab = bpe_vocab(merges, words)
    enc = bpe_encode(
        docs,
        merges,
        vocab,
        text_col=text_col,
        id_col=id_col,
        encoded_words=words,
        # pack_token_ids' groupBy(seq_id) destroys order — the inner
        # presentation sort would be a wasted corpus range shuffle
        ordered=False,
    )
    seqs = pack_token_ids(
        enc.withColumnRenamed(id_col, "doc_id"),
        seq_len=seq_len or PACK_CONTEXT,
    )
    return merges, vocab, seqs
