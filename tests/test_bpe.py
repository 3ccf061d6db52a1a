"""BPE merge training (operators/bpe.py) vs the classic pure-Python
Sennrich reference: merge SEQUENCE equality, segmentation equality,
determinism, and the greedy-fold edge cases."""

from __future__ import annotations

from collections import Counter

import pytest

from tests.oracle_utils import persistent_rdd_ids


def _ref_bpe(word_freqs: dict[str, int], n_merges: int):
    """Sennrich et al. 2016 reference: pair counts over the word-freq
    table, argmax with (count DESC, pair lexicographic) tie-break,
    left-to-right greedy merge application."""
    segs = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, f in word_freqs.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w in segs:
            s = segs[w]
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            segs[w] = out
    return merges, segs


def _ref_segment(text: str, merges) -> list[str]:
    pieces: list[str] = []
    for w in text.split(" "):
        if not w:
            continue
        s = list(w)
        for a, b in merges:
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            s = out
        pieces.extend(s)
    return pieces


CORPUS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new"),
    (2, "wide wider widest"),
    (3, "low new wide"),
    (4, "aaa aa a aaa"),  # the overlap case: (a,a) merges left-first
]


def _word_freqs():
    c: Counter = Counter()
    for _, t in CORPUS:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return dict(c)


def test_bpe_train_matches_reference_merge_sequence(spark):
    from apache_jira_scraper_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, words = bpe_train(docs, n_merges=12)
    ref_merges, ref_segs = _ref_bpe(_word_freqs(), 12)
    assert merges == ref_merges
    got_segs = {r["w"]: list(r["symbols"]) for r in words.collect()}
    assert got_segs == ref_segs


def test_bpe_segment_matches_reference(spark):
    from apache_jira_scraper_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, _ = bpe_train(docs, n_merges=10)
    got = {
        r["doc_id"]: list(r["pieces"])
        for r in bpe_segment(docs, merges).collect()
    }
    for doc_id, text in CORPUS:
        assert got[doc_id] == _ref_segment(text, merges), doc_id
    # checkpoint_every must not change results (plan hygiene only)
    got2 = {
        r["doc_id"]: list(r["pieces"])
        for r in bpe_segment(docs, merges, checkpoint_every=2).collect()
    }
    assert got2 == got


def test_bpe_train_deterministic_and_early_stop(spark):
    from apache_jira_scraper_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    m1, _ = bpe_train(docs, n_merges=6)
    m2, _ = bpe_train(docs, n_merges=6)
    assert m1 == m2
    # a corpus of single characters runs out of pairs: early stop, no
    # dummy rules
    tiny = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    m, words = bpe_train(tiny, n_merges=5)
    assert m == []
    assert {r["w"]: list(r["symbols"]) for r in words.collect()} == {
        "a": ["a"], "b": ["b"], "c": ["c"]
    }


def test_bpe_train_on_corpus_sample(spark, sf_dir):
    """Real-corpus smoke at the test SF: merges learn, segmentation
    round-trips (concatenated pieces == the whitespace-joined words),
    and the reference agrees on the merge sequence."""
    from apache_jira_scraper_spark.io import load_table
    from apache_jira_scraper_spark.operators.bpe import bpe_segment, bpe_train
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(100)
    merges, _ = bpe_train(docs, n_merges=8)
    assert len(merges) == 8
    wf: Counter = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].split(" "):
            if w:
                wf[w] += 1
    ref_merges, _ = _ref_bpe(dict(wf), 8)
    assert merges == ref_merges
    seg = bpe_segment(docs, merges)
    joined = seg.select(
        "doc_id", F.concat_ws("", "pieces").alias("glued")
    )
    orig = docs.select(
        "doc_id", F.regexp_replace("text", " ", "").alias("glued")
    )
    assert (
        joined.join(orig, "doc_id")
        .filter(joined["glued"] != orig["glued"])
        .count()
        == 0
    )


def test_bpe_vocab_and_encode(spark):
    """GPT-2 vocab layout (alphabet lexicographic, then merges in
    training order), encode parity vs the reference segmentation mapped
    through the same table, unk for unseen characters, empty-doc
    alignment."""
    from apache_jira_scraper_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, words = bpe_train(docs, n_merges=8)
    vocab = bpe_vocab(merges, words)
    vrows = {r["piece"]: r["id"] for r in vocab.collect()}
    # alphabet ids precede merge ids; merges appear in training order
    alpha = sorted(p for p in vrows if len(p) == 1)
    assert [vrows[c] for c in alpha] == list(range(len(alpha)))
    for i, (a, b) in enumerate(merges):
        assert vrows[a + b] == len(alpha) + i
    # encode parity: reference segmentation mapped through the same table
    got = {
        r["doc_id"]: list(r["ids"])
        for r in bpe_encode(docs, merges, vocab).collect()
    }
    for doc_id, text in CORPUS:
        ref = [vrows[p] for p in _ref_segment(text, merges)]
        assert got[doc_id] == ref, doc_id
    # unseen character -> unk_id; empty text -> empty ids, row preserved
    new = spark.createDataFrame(
        [(100, "low Z"), (101, "")], "doc_id long, text string"
    )
    enc = {r["doc_id"]: r for r in bpe_encode(new, merges, vocab).collect()}
    assert -1 in list(enc[100]["ids"])
    assert list(enc[101]["ids"]) == [] and enc[101]["n_pieces"] == 0


def test_bpe_segment_join_path_matches_fold(spark):
    """The scale path (word-keyed join against bpe_train's table) is
    row-for-row equal to the rank-by-rank fold, including empty docs."""
    from apache_jira_scraper_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        CORPUS + [(5, ""), (6, "  ")], "doc_id long, text string"
    )
    merges, words = bpe_train(docs, n_merges=10)
    fold = bpe_segment(docs, merges).collect()
    join = bpe_segment(docs, merges, encoded_words=words).collect()
    assert [r.asDict() for r in fold] == [r.asDict() for r in join]


def test_bpe_segment_join_path_oov(spark):
    """OOV words (absent from training) fall back per the `oov` knob:
    'fold' applies the merge rules exactly like training would have
    (parity with the fold path), 'chars' emits raw characters."""
    from apache_jira_scraper_spark.operators.bpe import bpe_segment, bpe_train

    train = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, words = bpe_train(train, n_merges=10)
    # 'lowest' is in-vocab; 'lowish' and 'aaaa' are OOV
    new = spark.createDataFrame(
        [(0, "lowest lowish aaaa")], "doc_id long, text string"
    )
    got_fold = bpe_segment(new, merges, encoded_words=words).collect()[0]
    ref = _ref_segment("lowest lowish aaaa", merges)
    assert list(got_fold["pieces"]) == ref
    got_chars = bpe_segment(
        new, merges, encoded_words=words, oov="chars"
    ).collect()[0]
    seg_lowest = _ref_segment("lowest", merges)
    assert list(got_chars["pieces"]) == seg_lowest + list("lowish") + list("aaaa")
    with pytest.raises(ValueError, match="oov"):
        bpe_segment(new, merges, encoded_words=words, oov="nope")


def test_bpe_encode_join_path_matches_fold(spark):
    from apache_jira_scraper_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, words = bpe_train(docs, n_merges=8)
    vocab = bpe_vocab(merges, words)
    a = [r.asDict() for r in bpe_encode(docs, merges, vocab).collect()]
    b = [
        r.asDict()
        for r in bpe_encode(
            docs, merges, vocab, encoded_words=words
        ).collect()
    ]
    assert a == b


def test_bpe_segment_fold_scratch_ownership(spark):
    """ADVICE r12: the fold path's superseded checkpoints are freed as
    successors materialize; only the final one, which backs the result,
    stays live, owned by the caller's io scope until it closes."""
    from apache_jira_scraper_spark.io import scope
    from apache_jira_scraper_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, _ = bpe_train(docs, n_merges=10)
    with scope() as owned:
        out = bpe_segment(docs, merges, checkpoint_every=3)
        ids = {df._jdf.queryExecution().analyzed().rdd().id() for df in owned}
        assert len(ids) == 3  # one checkpoint per 3 of the 10 merges
        assert len(ids & persistent_rdd_ids(spark)) == 1
        got = {r["doc_id"]: list(r["pieces"]) for r in out.collect()}
    for doc_id, text in CORPUS:
        assert got[doc_id] == _ref_segment(text, merges), doc_id
    assert not ids & persistent_rdd_ids(spark)


def test_bpe_gate_sql_matches_reference():
    """The DuckDB CTE-chain twin (window run-parity merge application)
    reproduces the Sennrich reference merge sequence AND segmentation on
    the overlap-heavy tiny corpus — no Spark involved, pure oracle pin."""
    import duckdb

    from apache_jira_scraper_spark.operators.bpe import bpe_gate_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in CORPUS)
        + ") AS v(doc_id, text)"
    )
    n = 12
    rows = con.execute(bpe_gate_sql(n_merges=n)).fetchall()
    merge_rows = sorted(
        (r for r in rows if r[0] == "bpe_merge"), key=lambda r: r[1]
    )
    merges = [tuple(r[2].split(" ")) for r in merge_rows]
    ref_merges, ref_segs = _ref_bpe(_word_freqs(), n)
    assert merges == ref_merges
    # m1 carries each argmax pair's exact count at selection time
    segs = {w: list(w) for w in _word_freqs()}
    for (a, b), row in zip(ref_merges, merge_rows):
        counts: Counter = Counter()
        for w, f in _word_freqs().items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        assert row[3] == counts[(a, b)], (a, b)
        for w in segs:
            out = []
            for x in segs[w]:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            segs[w] = out
    import hashlib

    seg = {r[1]: (r[2], r[3]) for r in rows if r[0] == "bpe_seg"}
    for doc_id, text in CORPUS:
        ref = []
        for w in text.split(" "):
            if w:
                ref.extend(ref_segs[w])
        md5 = hashlib.md5(" ".join(ref).encode()).hexdigest()
        assert seg[doc_id] == (md5, len(ref)), doc_id


def test_bpe_train_batched(spark):
    """batch>1 (the distributed-BPE round mitigation): exact sequential
    equivalence on a corpus whose frequent pairs are symbol-disjoint, and
    batch=1 stays bit-identical to the default path on the overlap-heavy
    corpus."""
    from apache_jira_scraper_spark.operators.bpe import bpe_train

    # disjoint alphabets: sequential picks (a,b), (c,d), (e,f), (g,h) —
    # all symbol-disjoint, so one batched round must pick the same four
    disj = spark.createDataFrame(
        [
            (0, "ab ab ab ab"),
            (1, "cd cd cd"),
            (2, "ef ef"),
            (3, "gh"),
        ],
        "doc_id long, text string",
    )
    seq_m, _ = bpe_train(disj, n_merges=4)
    bat_m, bat_w = bpe_train(disj, n_merges=4, batch=4)
    assert bat_m == seq_m == [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")]
    got = {r["w"]: list(r["symbols"]) for r in bat_w.collect()}
    assert got == {"ab": ["ab"], "cd": ["cd"], "ef": ["ef"], "gh": ["gh"]}

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    m_default, _ = bpe_train(docs, n_merges=10)
    m_b1, _ = bpe_train(docs, n_merges=10, batch=1)
    assert m_b1 == m_default

    # interacting pairs are deferred, never mis-merged: counts of every
    # accepted pair are exact at application time, so the batched result
    # still segments consistently (glue round-trip)
    m_b4, w4 = bpe_train(docs, n_merges=12, batch=4)
    assert len(m_b4) == 12
    glued = {
        r["w"]: "".join(r["symbols"]) for r in w4.collect()
    }
    assert all(w == g for w, g in glued.items())

    with pytest.raises(ValueError, match="batch"):
        bpe_train(docs, batch=0)


def test_bpe_tokenize_and_pack_end_to_end(spark):
    """Full pipeline vs the pure-Python composition: reference merges ->
    reference segmentation -> vocab ids -> concat-and-chunk."""
    from apache_jira_scraper_spark.operators.bpe import bpe_tokenize_and_pack

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, vocab, seqs = bpe_tokenize_and_pack(docs, n_merges=8, seq_len=7)
    vrows = {r["piece"]: r["id"] for r in vocab.collect()}
    stream: list[int] = []
    for doc_id, text in CORPUS:
        stream.extend(vrows[p] for p in _ref_segment(text, merges))
    ref = {i // 7: stream[i : i + 7] for i in range(0, len(stream), 7)}
    got = {r["seq_id"]: list(r["ids"]) for r in seqs.collect()}
    assert got == ref
