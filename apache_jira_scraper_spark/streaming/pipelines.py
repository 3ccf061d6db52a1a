"""Structured Streaming pipelines (SURVEY.md §2.9 T1-T5).

The reference's only streaming-ish machinery is the checkpointed cursor
(T1-T3), replaced by the jira source's offset log. This module adds the
extension surface (T4-T5): watermarked event-time windows, sliding windows,
session windows, late-data drop, streaming dedup, and an idempotent
foreachBatch sink — the exactly-once upgrade of the reference's
resume-overwrite gap (S10 note).

Every builder takes a *streaming* DataFrame of the events shape
(ts timestamp, user_id long, event_type string, value double, ...) and
returns the transformed streaming DataFrame. Tests drive them with a
file-source stream over the driver's parquet (rate-limited via
maxFilesPerTrigger) and a memory sink.
"""

from __future__ import annotations

import contextvars

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import checkpoint, disown, own, scope

# deterministic unpersist of superseded state checkpoints (shared with
# the iterative operators — see io.free_local_checkpoint's contract)
from ..io import free_local_checkpoint as _free_local_checkpoint


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for `path` via the JVM Hadoop API — resolves the
    scheme (file:/hdfs:/s3a:...) against the session's Hadoop conf, so
    marker checks behave identically on every cluster filesystem."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_exists(spark, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return fs.exists(jpath)


def _fs_listdir(spark, path: str) -> list[str]:
    """Child paths of `path` as fully-qualified URI strings ([] if absent)."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().toString() for st in fs.listStatus(jpath)]


def tumbling_counts(events: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling event-time windows: counts + decimal-exact sums
    per (window, event_type). Late rows beyond the watermark are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact sum, emitted as integer cents: fixed-point BIGINT
            # survives the driver's pandas bridge where DECIMAL does not
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("total_value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value_cents",
        )
    )


def sliding_avg(events: DataFrame, window: str = "10 minutes", slide: str = "5 minutes",
                watermark: str = "10 minutes") -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping frames;
    per (window, user) count AND the advertised average — decimal-exact sum
    divided by the count, emitted as integer cents like every sibling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("total_value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "n",
            "total_value_cents",
            F.expr("total_value_cents DIV n").alias("avg_value_cents"),
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of
    operators.events.q_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon —
    dropDuplicatesWithinWatermark bounds the dedup state (T5)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_stats(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (T4/T5 extension):
    per-user lifetime counters (events seen, value sum in cents, last event
    second) carried in explicit GroupState across micro-batches — the shape
    for stateful logic the built-in window/dedup operators can't express.

    State is three scalars per user (bounded), updated from Arrow batches;
    update mode emits one row per user per batch the user appears in. The
    watermark bounds how late input can perturb state, exactly as for the
    built-in stateful operators.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value_cents", LongType()),
            StructField("last_seen_s", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("last_s", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, cents, last_s = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # HALF-UP nearest cent per row, summed in int space — the
            # DECIMAL(14,2)*100 convention the sibling operators use.
            # pandas .round() is banker's (half-to-even): 0.125*100=12.5
            # would land 12 where DECIMAL lands 13, silently diverging
            # from the batch twin on exact half-cents. floor(|x|*100+0.5)
            # with the sign restored IS half-up, and a bare astype-int64
            # would truncate 0.29*100 = 28.999... down a cent. NULLs are
            # dropped first (SUM-skips-NULL semantics; NaN.astype(int64)
            # raises and would kill the query).
            import numpy as np

            v = pdf["value"].dropna().to_numpy()
            cents += int(np.sum(np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)))
            last_s = max(last_s, int(pdf["ts"].astype("int64").max() // 1_000_000_000))
        state.update((n, cents, last_s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
                "last_seen_s": [last_s],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def trending_terms(
    events: DataFrame,
    window: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-window trending terms over a streaming text column — the
    vocabulary-drift monitor a training-data ingest runs beside its
    volume counts (a sudden new top term usually means a new spam
    campaign or a source-format change).

    Shape: explode tokens (narrow), ONE watermarked (window, term) count
    — the windowed aggregation holds the streaming state and runs
    incrementally; the per-window top-k RANK is not expressible on a
    stream (arbitrary ranking windows need the whole partition), so it
    runs sink-side over the (windows × distinct-terms) aggregate table —
    never over raw events — via ``rank_trending`` in the complete-mode /
    foreachBatch consumer. Emits (window_start, term, n); compose with
    rank_trending for (window_start, rank, term, n). Batch-twinned in
    tests: the same two stages over the bounded batch table produce
    identical rows.
    """
    toks = events.select(
        "ts", F.explode(F.split(F.col("event_type"), " ")).alias("term")
    )
    return (
        toks.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "term", "n")
    )


def rank_trending(counts: DataFrame, top_k: int = 5) -> DataFrame:
    """Sink-side rank step for trending_terms: per-window top-k with a
    deterministic (count desc, term asc) tie-break. Runs over the small
    aggregate table a complete-mode memory sink or foreachBatch hands the
    consumer."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("window_start", "rank", "term", "n")
    )


def write_idempotent_parquet(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """foreachBatch + overwrite-by-batch-id: an idempotent sink. If a batch
    is replayed after a crash, the same batch_id overwrite lands the same
    bytes — the exactly-once upgrade of the reference's resume gap (S10)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _write_with_segment_checkpoints(write, segments: list[DataFrame]) -> list[DataFrame]:
    """Run `write()` and an eager localCheckpoint of each segment on
    concurrent driver threads (guide §2.6, overlap independent jobs: the
    batch pays the slowest job, not the sum) and return the checkpoints.

    If ANY of the jobs raises, every checkpoint that did materialize is
    freed and the first error is re-raised, the write's first: the pool
    exit has already waited for all of them, so no future is left
    unobserved and no orphan segment outlives the failed batch."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1 + len(segments)) as pool:
        f_w = pool.submit(write)
        f_cks = [pool.submit(s.localCheckpoint, True) for s in segments]
    errors = [f.exception() for f in (f_w, *f_cks) if f.exception() is not None]
    if errors:
        for f in f_cks:
            if f.exception() is None:
                _free_local_checkpoint(f.result())
        raise errors[0]
    return [f.result() for f in f_cks]


def streaming_dedup_ingest(
    doc_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    initial_index=None,
    compact_every: int = 16,
    durable_state_dir: str | None = None,
):
    """Streaming corpus ingestion with CROSS-BATCH near-dup state: each
    micro-batch of (doc_id, text) rows is deduped against the index of
    every previously kept document via operators.dedup.incremental_dedup,
    the survivors land idempotently (overwrite-by-batch-id, same contract
    as write_idempotent_parquet), and the index advances only after the
    write succeeds.

    The index is (shingles, signatures) — the custom streaming state that
    dropDuplicatesWithinWatermark cannot express (near-dup, unbounded
    horizon). Both tables live in SIZE-TIERED segment stores
    (_TieredSegments, r09 — same shape as the media sink): each batch
    checkpoints only ITS OWN kept shingles/signatures (O(batch) per
    advance; the previous design re-materialized the full unioned index
    every batch — O(corpus), the very cost incremental_dedup exists to
    avoid), tiers of `compact_every` segments merge one level up, and
    batch N's plan never chains N lineages deep (the classic
    iterative-state bug).

    Replay contract (crash between the parquet write and the streaming
    checkpoint commit): on restart, rebuild state with
    ``rebuild_dedup_ingest_state`` (reads COMMITTED batch directories
    only) or pass ``initial_index``. A replayed batch whose directory
    already committed (_SUCCESS present) is SKIPPED — output and index
    already contain it; re-running incremental_dedup against an index
    that already holds the batch's own docs would classify every doc as
    an id-replay and overwrite the committed survivors with an EMPTY
    directory, silently erasing the batch from the corpus. A partial
    (no _SUCCESS) directory is re-written from scratch, and the rebuild
    helper never indexed it — normal first-attempt semantics.

    OWNERSHIP of ``initial_index`` TRANSFERS to the sink (r08): its
    checkpoints enter the tier store and are deterministically
    unpersisted when their tier merges, so a restart must call
    rebuild_dedup_ingest_state again — never reuse a tuple a previous
    (even failed) stream consumed.

    ``durable_state_dir`` (r10, VERDICT r09 item 4) opts into
    parquet-backed segment state (DurableSegmentStore): restart recovery
    becomes a manifest read + segment scans instead of the corpus
    re-shingle rebuild_dedup_ingest_state performs; committed output
    batches the recovered manifests don't cover (the documented
    write-then-crash window) are re-indexed INDIVIDUALLY on resume.
    Mutually exclusive with ``initial_index`` — the durable path derives
    all state from disk, including the first-run migration of an
    existing out_dir.
    """
    if durable_state_dir is not None:
        if initial_index is not None:
            raise ValueError(
                "durable_state_dir derives all state from disk; "
                "initial_index must be None"
            )
        sh_tier, sig_tier = _resume_durable_text_state(
            doc_stream.sparkSession, durable_state_dir, out_dir, compact_every
        )
    else:
        init_sh, init_sig = (
            initial_index if initial_index is not None else (None, None)
        )
        sh_tier = _TieredSegments(
            compact_every, [init_sh] if init_sh is not None else []
        )
        sig_tier = _TieredSegments(
            compact_every, [init_sig] if init_sig is not None else []
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import incremental_dedup

        with scope():  # the batch's intermediates, freed written or not
            # committed-replay skip + under-parallel fan-out: shared with the
            # media sink (_ingest_batch_guard — the single-partition batch was
            # measured as the ingest leg's whole critical path at sf0.1)
            batch_df = _ingest_batch_guard(batch_df, out_dir, batch_id)
            if batch_df is None:
                return  # committed replay: exactly-once output, state already has it
            sh_u, sig_u = sh_tier.union(), sig_tier.union()
            parts: list = []
            kept, _ = incremental_dedup(
                batch_df,
                (sh_u, sig_u) if sh_u is not None else None,
                kept_parts_out=parts,
            )
            # batch_id lives ONLY in the directory name: writing it as a data
            # column too made every read of out_dir resolve a duplicate
            # (COLUMN_ALREADY_EXISTS warning; partition schema happened to win).
            # Partition discovery reconstitutes the column.
            # `kept` feeds ONLY this write (the index advance derives from the
            # batch shingle/signature checkpoints, not from kept), so no
            # re-checkpoint before it — one fewer job per batch (r09 profile).
            #
            # r14 (guide §2.6, overlap independent jobs): the survivor write
            # and the two O(batch) segment checkpoints are three independent
            # jobs over already-materialized inputs (losers is an eager
            # checkpoint; sh_new/sig_new land on first use) — run them on
            # concurrent driver threads so the batch pays the slowest, not the
            # sum. The REPLAY CONTRACT is untouched: checkpointing a segment
            # is not a state advance — tier.add() below still runs only after
            # the write proves the batch directory committed; if any of the
            # three jobs fails, the segment checkpoints that landed are freed.
            sh_ck, sig_ck = _write_with_segment_checkpoints(
                lambda: kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}"),
                parts,
            )
            # O(batch) state advance: only this batch's kept index segment;
            # tier merges amortize the rest (r09)
            sh_tier.add(sh_ck, batch_id)
            sig_tier.add(sig_ck, batch_id)

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _committed_batches(spark, out_dir: str) -> list[tuple[str, int]]:
    """(dir, batch_id) for every COMMITTED batch directory under an
    ingest sink's out_dir, batch order — the one definition behind the
    replay skip, the rebuild helpers and durable-state top-up."""
    out = []
    for d in _fs_listdir(spark, out_dir):
        name = d.rsplit("/", 1)[-1]
        if name.startswith("batch_id=") and _fs_exists(spark, f"{d}/_SUCCESS"):
            out.append((d, int(name.split("=", 1)[1])))
    return sorted(out, key=lambda x: x[1])


class DurableSegmentStore:
    """Opt-in parquet persistence for a _TieredSegments store (VERDICT
    r09 item 4): localCheckpoint segments are executor-resident and die
    with the session, so the default restart recovery is a full re-hash
    of the committed output (rebuild_*_ingest_state) — fine for hundreds
    of batches, a corpus-sized decode for a 10 000-batch production
    ingest. With a durable store attached, every segment (per-batch
    level-0 adds AND compaction outputs) is also written as parquet
    under `root`, and a VERSIONED manifest (manifest_v{N}, _SUCCESS
    parquet write, highest committed version wins) records the live
    segment set plus the covered batch_ids — restart recovery is then a
    manifest read + parquet segment SCANS, no re-hash.

    Write cost per batch: one small segment parquet + one tiny manifest
    (compactions add one merged-tier parquet — the same O(log_fanout)
    amortized write amplification as the in-memory design, now on
    durable storage). All filesystem ops go through the Hadoop FS API,
    so the contract holds on HDFS/object stores as on local disk.

    Crash windows: a segment parquet no manifest references is an
    ORPHAN (ignored and deleted on the next load); a crash before the
    new manifest commits leaves the previous manifest live, so the
    store recovers to the pre-batch state — any output batch that
    committed past the recovered manifest is detected by the sink's
    resume path via the covered-batch set and re-hashed INDIVIDUALLY
    (O(missing batch), not O(corpus))."""

    #: manifest schema — a load() that finds a manifest WITHOUT these
    #: columns treats it as an unreadable foreign/legacy format: deletes
    #: it and falls back to the next older one (review r10: a format
    #: change must degrade to the top-up re-hash path, never crash the
    #: recovery the store exists for)
    _SCHEMA = "kind string, path string, level long, lo long, hi long"

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.counter = 0
        self.version = 0
        self.batches: set[int] = set()
        # merged [lo, hi] coverage ranges, maintained INCREMENTALLY (the
        # common case appends hi+1) — rebuilding by sorting the full set
        # per commit would be O(n log n) per batch over exactly the
        # 10k-batch run this store targets (review r10)
        self.ranges: list[list[int]] = []

    def _delete(self, path: str) -> None:
        fs, jp = _hadoop_fs(self.spark, path)
        fs.delete(jp, True)

    def persist(self, df: DataFrame, level: int) -> str:
        self.counter += 1
        path = f"{self.root}/seg_{self.counter:09d}_L{level}"
        df.write.mode("overwrite").parquet(path)
        return path

    def commit(self, entries: list[tuple[str, int]], batch_id=None) -> None:
        """Write manifest_v{N+1}: live (path, level) rows, the covered
        batch_ids as MERGED [lo, hi] ranges (batch_ids are assigned
        monotonically by the streaming engine, so coverage is one row in
        the common case — one row PER batch would make total manifest
        rows quadratic over exactly the 10 000-batch run this store
        exists for, review r10), and a meta row carrying the segment
        counter in `lo`. Old manifests beyond the previous one are GC'd
        after the write succeeds, so the per-commit listing stays O(live
        segments + 2)."""
        if batch_id is not None:
            self._cover(int(batch_id))
        self.version += 1
        rows = [("seg", p, lvl, None, None) for p, lvl in entries]
        rows += [("batches", None, None, lo, hi) for lo, hi in self.ranges]
        rows.append(("meta", None, None, self.counter, None))
        (
            self.spark.createDataFrame(rows, self._SCHEMA)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{self.root}/manifest_v{self.version:09d}")
        )
        for v, p in self._manifests():
            if v < self.version - 1:
                self._delete(p)

    def _cover(self, b: int) -> None:
        """Add a batch_id to the coverage set + merged ranges: O(1) for
        the monotone streaming case (extend the last range or append),
        full re-merge only for out-of-order backfill (top-up of an old
        uncovered batch — rare by construction)."""
        if b in self.batches:
            return
        self.batches.add(b)
        if self.ranges and b == self.ranges[-1][1] + 1:
            self.ranges[-1][1] = b
        elif not self.ranges or b > self.ranges[-1][1] + 1:
            self.ranges.append([b, b])
        else:
            self.ranges = self._merge_ranges(self.batches)

    @staticmethod
    def _merge_ranges(ids) -> list[list[int]]:
        out: list[list[int]] = []
        for b in sorted(ids):
            if out and b == out[-1][1] + 1:
                out[-1][1] = b
            else:
                out.append([b, b])
        return out

    def _manifests(self) -> list[tuple[int, str]]:
        out = []
        for p in _fs_listdir(self.spark, self.root):
            name = p.rsplit("/", 1)[-1]
            if name.startswith("manifest_v") and _fs_exists(
                self.spark, f"{p}/_SUCCESS"
            ):
                out.append((int(name[len("manifest_v"):]), p))
        return sorted(out)

    def load(self):
        """Latest committed manifest -> [(df, path, level), ...] with
        segments as plain parquet scans (the disk copy IS the
        materialization — no re-hash, no checkpoint), restoring the
        counter/version/covered-batch state. Returns None when no
        manifest has ever committed. Orphan segments and superseded
        manifests are deleted."""
        ms = self._manifests()
        mpath = None
        rows = None
        newest_seen = 0
        skipped_foreign = False
        for v, p in reversed(ms):
            newest_seen = max(newest_seen, v)
            # A manifest that cannot be read as parquet OR lacks the
            # current columns is a foreign/legacy format. SKIP it — never
            # delete it: on a software-version rollback it is the newer
            # build's live state, and destroying it (plus the segments
            # only it references, via the orphan sweep) would silently
            # lose that state where a crash would at least have preserved
            # it for operator intervention (review r10 pass 3). Fall back
            # to the next older manifest; worst case the caller's top-up
            # re-hashes the committed batches — degraded, never wrong.
            try:
                df = self.spark.read.parquet(p)
                got = (
                    df.collect()
                    if {"kind", "path", "level", "lo", "hi"} <= set(df.columns)
                    else None
                )
            except Exception:
                got = None
            if got is None:
                skipped_foreign = True
                continue
            self.version, mpath = v, p
            rows = got
            break
        if skipped_foreign or mpath is None:
            # commits must never overwrite a skipped (newer/foreign)
            # manifest version, and persist() must never overwrite its
            # segment files: bump both counters past everything on disk
            self.version = max(self.version, newest_seen)
            for p in _fs_listdir(self.spark, self.root):
                name = p.rsplit("/", 1)[-1]
                if name.startswith("seg_"):
                    try:
                        self.counter = max(self.counter, int(name.split("_")[1]))
                    except ValueError:
                        pass
        if mpath is None:
            return None
        entries = []
        live_names = set()
        for r in rows:
            if r["kind"] == "seg":
                entries.append(
                    (self.spark.read.parquet(r["path"]), r["path"], int(r["level"]))
                )
                live_names.add(r["path"].rsplit("/", 1)[-1])
            elif r["kind"] == "batches":
                self.batches.update(range(int(r["lo"]), int(r["hi"]) + 1))
            elif r["kind"] == "meta":
                self.counter = max(self.counter, int(r["lo"]))
        self.ranges = self._merge_ranges(self.batches)
        if not skipped_foreign:
            # GC runs ONLY when the loaded manifest is the newest on
            # disk — under a skipped foreign manifest, "orphan" segments
            # may be the foreign version's live state
            for p in _fs_listdir(self.spark, self.root):
                name = p.rsplit("/", 1)[-1]
                if name.startswith("seg_") and name not in live_names:
                    self._delete(p)  # orphan from a crash window
                elif (
                    name.startswith("manifest_v")
                    and name != mpath.rsplit("/", 1)[-1]
                ):
                    self._delete(p)
        return entries


def _ingest_batch_guard(batch_df: DataFrame, out_dir: str, batch_id: int):
    """Shared per-batch preamble for the ingest sinks (review r08: one
    definition, two sinks). Returns None when the batch directory already
    COMMITTED (exactly-once replay skip — Hadoop FileSystem check, NOT
    os.path: out_dir may be HDFS/object-store, r04 advice), else the
    batch fanned out to full parallelism (a micro-batch often arrives as
    ONE file -> one partition, putting the per-doc hash work on one
    core)."""
    if _fs_exists(batch_df.sparkSession, f"{out_dir}/batch_id={batch_id}/_SUCCESS"):
        return None
    n = batch_df.sparkSession.sparkContext.defaultParallelism
    if batch_df.rdd.getNumPartitions() < n:
        batch_df = batch_df.repartition(n)
    return batch_df


class _TieredSegments:
    """Size-tiered (LSM-style) checkpoint segment store for the media
    ingest sink's phash index AND kept-id guard (VERDICT r08 item 3 +
    ADVICE r08): level-0 segments hold ONE batch each; when any level
    accumulates `fanout` segments they merge into a single segment one
    level up, cascading. A compaction therefore rewrites only the merged
    tier — per-row write amplification is O(log_fanout(n_batches)) and no
    single compaction re-materializes the full index (the previous
    merge-everything design rewrote O(corpus) every `fanout` batches).
    The read side unions at most fanout * n_levels branches, so the join
    plan stays bounded. Segments must be EAGER localCheckpoints;
    ownership transfers here — replaced segments are freed
    deterministically AFTER their merged successor materializes.

    With a DurableSegmentStore attached (r10, VERDICT r09 item 4) every
    segment is ALSO persisted as parquet and the live set committed to a
    versioned manifest per add(); replaced segment files are deleted only
    after the manifest that drops them commits. `initial` then accepts
    the store's load() entries — (df, path, level) tuples, resumed at
    their recorded levels — alongside plain DataFrames (persisted on
    entry when a store is attached). Freeing a resumed parquet-scan
    segment is a benign no-op inside free_local_checkpoint.

    Segments are the stream's state, never a batch's: each is owned by
    the io scope open where the store was built, if any, until a merge
    frees it (see io.scope)."""

    def __init__(self, fanout: int, initial=None, initial_level: int = 1,
                 store: "DurableSegmentStore | None" = None):
        # a restart rebuild's full-corpus segment enters ABOVE the
        # per-batch level so the first level-0 merge does not rewrite it
        self.fanout = fanout
        self.store = store
        self.tiers: dict[int, list[tuple[DataFrame, str | None]]] = {}
        # add() runs on the sink's callback thread: register there in the
        # context the store was built in
        self._owner = contextvars.copy_context()
        fresh = False
        for item in initial or []:
            if isinstance(item, tuple):
                df, path, lvl = item  # a DurableSegmentStore.load() entry
                self.tiers.setdefault(lvl, []).append((own(df), path))
            else:
                path = store.persist(item, initial_level) if store else None
                self.tiers.setdefault(initial_level, []).append((own(item), path))
                fresh = True
        if store and fresh:
            # rebuild-provided initial state becomes durable immediately
            store.commit(self._entries())

    def _entries(self) -> list[tuple[str, int]]:
        return [
            (path, lvl)
            for lvl in sorted(self.tiers)
            for _, path in self.tiers[lvl]
            if path is not None
        ]

    def dataframes(self) -> list[DataFrame]:
        return [df for lvl in sorted(self.tiers) for df, _ in self.tiers[lvl]]

    def union(self):
        from functools import reduce

        dfs = self.dataframes()
        return reduce(DataFrame.unionByName, dfs) if dfs else None

    def add(self, segment: DataFrame, batch_id: int | None = None) -> None:
        from functools import reduce

        path = self.store.persist(segment, 0) if self.store else None
        self.tiers.setdefault(0, []).append((self._owner.run(own, segment), path))
        lvl = 0
        replaced: list[str] = []
        while len(self.tiers.get(lvl, ())) >= self.fanout:
            olds = self.tiers[lvl]
            merged = reduce(DataFrame.unionByName, [df for df, _ in olds])
            merged = self._owner.run(own, merged.localCheckpoint(eager=True))
            mpath = self.store.persist(merged, lvl + 1) if self.store else None
            self.tiers[lvl] = []
            self.tiers.setdefault(lvl + 1, []).append((merged, mpath))
            for old, opath in olds:  # freed only post-merge
                _free_local_checkpoint(old)
                self._owner.run(disown, old)
                if opath is not None:
                    replaced.append(opath)
            lvl += 1
        if self.store:
            # one manifest commit covers the add + every cascade merge;
            # replaced files are deleted only after it succeeds (a crash
            # before the commit leaves them live under the old manifest)
            self.store.commit(self._entries(), batch_id)
            for p in replaced:
                self.store._delete(p)


def _resume_durable_text_state(spark, durable_state_dir, out_dir, fanout):
    """Durable-mode state for streaming_dedup_ingest: resume the shingle
    and signature tier stores from their manifests (segment scans, no
    re-hash), then re-index ONLY the committed output batches a
    recovered manifest doesn't cover (the write-then-crash window, or a
    first run over a pre-existing out_dir — the migration path)."""
    from ..operators.dedup import build_dedup_index

    sh_store = DurableSegmentStore(spark, f"{durable_state_dir}/shingles")
    sig_store = DurableSegmentStore(spark, f"{durable_state_dir}/signatures")
    sh_tier = _TieredSegments(fanout, sh_store.load() or [], store=sh_store)
    sig_tier = _TieredSegments(fanout, sig_store.load() or [], store=sig_store)
    for bdir, bid in _committed_batches(spark, out_dir):
        if bid in sh_store.batches and bid in sig_store.batches:
            continue
        kept = spark.read.parquet(bdir).select("doc_id", "text")
        sh, sig = build_dedup_index(kept)
        if bid not in sh_store.batches:
            sh_tier.add(sh.localCheckpoint(eager=True), bid)
        if bid not in sig_store.batches:
            sig_tier.add(sig.localCheckpoint(eager=True), bid)
    return sh_tier, sig_tier


def _resume_durable_media_state(
    spark, durable_state_dir, out_dir, fanout, hasher
):
    """Durable-mode state for streaming_media_dedup_ingest: the media
    analog of _resume_durable_text_state — kept-id guard and phash index
    resumed from manifests; uncovered committed batches re-hashed
    individually (one decode pass per missing batch, never the corpus)."""
    ids_store = DurableSegmentStore(spark, f"{durable_state_dir}/kept_ids")
    ph_store = DurableSegmentStore(spark, f"{durable_state_dir}/phash")
    ids_tier = _TieredSegments(fanout, ids_store.load() or [], store=ids_store)
    ph_tier = _TieredSegments(fanout, ph_store.load() or [], store=ph_store)
    for bdir, bid in _committed_batches(spark, out_dir):
        if bid in ids_store.batches and bid in ph_store.batches:
            continue
        kept = spark.read.parquet(bdir).select("doc_id", "content")
        if bid not in ids_store.batches:
            ids_tier.add(
                kept.select("doc_id").localCheckpoint(eager=True), bid
            )
        if bid not in ph_store.batches:
            ph = hasher(kept)
            if "frame_idx" not in ph.columns:
                ph = ph.withColumn("frame_idx", F.lit(0))
            ph_tier.add(ph.localCheckpoint(eager=True), bid)
    return ids_tier, ph_tier


def streaming_media_dedup_ingest(
    media_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    hash_fn=None,
    max_hamming: int = 3,
    max_block_freq: int | None = None,
    initial_state=None,
    compact_every: int = 16,
    min_matching_frames: int = 1,
    durable_state_dir: str | None = None,
):
    """Streaming MEDIA ingestion with cross-batch perceptual near-dup
    state (r08) — the media analog of streaming_dedup_ingest: each
    micro-batch of (doc_id, content) payloads is hashed ONCE (image_phash
    by default; pass frame_phash / audio_phash via `hash_fn` for the
    other modalities), a doc is dropped when its doc_id was ALREADY KEPT
    (at-least-once id-replay guard, same contract as the text side), when
    it near-matches (hamming <= max_hamming) the phash INDEX of every
    previously kept doc (media_near_dup_against_index — the index is
    never re-decoded), or when it matches a SMALLER-id doc in the same
    batch (single-pass within-batch policy: deterministic; a transitive
    chain may drop a doc whose smaller partner was itself dropped —
    near-dup piles are cliques in practice, the same trade the text-side
    greedy makes). Survivors land idempotently (overwrite-by-batch-id)
    and the state advances only after the write succeeds.
    Committed-replay directories (_SUCCESS present) are SKIPPED.

    `max_block_freq` passes through to both banded joins (review r08: at
    corpus scale a saturated index block is exactly the hot key the cap
    exists for). BOTH state tables — the phash index and the kept-id
    replay guard — are SIZE-TIERED segment stores (_TieredSegments,
    VERDICT r08 item 3 + ADVICE r08): each batch checkpoints only its own
    kept hashes/ids (O(batch) per advance), and when a tier accumulates
    `compact_every` segments it merges into one segment a level up, so a
    compaction rewrites only the merged tier (O(log) amortized write
    amplification) and never the full index; the guard's previous
    full-snapshot-per-batch advance is gone. `initial_state` takes the
    (kept_ids, phash_segments) pair returned by
    rebuild_media_ingest_state; OWNERSHIP TRANSFERS to the sink —
    replaced state checkpoints are deterministically unpersisted as the
    state advances (_free_local_checkpoint), so callers must not reuse
    the handles.

    Drop policy for multi-hash documents (ADVICE r08): by DEFAULT a
    single matching frame pair within max_hamming drops the whole new
    document — deliberately aggressive, matching the pair family's
    "any frame collides => candidate pair" semantics, and exact for
    single-hash docs (stills, whole-clip audio). For frame-level
    hash_fns where one coincidental frame collision shouldn't discard a
    document, set `min_matching_frames` > 1: a new doc then drops only
    when at least that many frame pairs match ONE existing doc (the pair
    family's matching_frames measure, applied to both the within-batch
    and the against-index decision).

    Payloads with no hash row (undecodable) or a degenerate hash
    (phash 0, dropped inside the banded join) are KEPT — perceptual
    near-dup has no opinion on them (route those through exact
    content-hash dedup) — but their doc_ids still join the id-replay
    guard.

    ``durable_state_dir`` (r10, VERDICT r09 item 4) opts into
    parquet-backed segment state (DurableSegmentStore) for BOTH state
    tables: restart recovery becomes a manifest read + segment scans
    instead of rebuild_media_ingest_state's full re-decode of the kept
    corpus; committed output batches a recovered manifest doesn't cover
    are re-hashed individually. Mutually exclusive with
    ``initial_state``."""
    from ..operators.multimodal import (
        _phash_verified_pairs,
        image_phash,
        media_near_dup_against_index,
    )

    if compact_every < 2:
        raise ValueError(
            "compact_every < 2 makes every tier merge immediately — the "
            "O(corpus)-per-batch cost the tiered design exists to avoid; "
            f"got {compact_every}"
        )
    if min_matching_frames < 1:
        raise ValueError(f"min_matching_frames must be >= 1, got {min_matching_frames}")
    hasher = hash_fn or image_phash
    if durable_state_dir is not None:
        # parquet-backed segment state (r10, VERDICT r09 item 4): resume
        # from manifests, top up uncovered committed batches; mutually
        # exclusive with initial_state (all state derives from disk)
        if initial_state is not None:
            raise ValueError(
                "durable_state_dir derives all state from disk; "
                "initial_state must be None"
            )
        ids_tier, seg_tier = _resume_durable_media_state(
            media_stream.sparkSession,
            durable_state_dir,
            out_dir,
            compact_every,
            hasher,
        )
    else:
        init_ids, init_segments = (
            initial_state if initial_state is not None else (None, [])
        )
        normed = []
        for s in init_segments:
            if "frame_idx" not in s.columns:
                # re-checkpoint to a BARE LogicalRDD: a withColumn wrapper
                # would make the compaction-time free a silent no-op
                # (free_local_checkpoint only reaches through an unwrapped
                # checkpoint), stranding the caller's blocks until GC
                fixed = s.withColumn("frame_idx", F.lit(0)).localCheckpoint(
                    eager=True
                )
                _free_local_checkpoint(s)  # ownership transferred
                s = fixed
            normed.append(s)
        seg_tier = _TieredSegments(compact_every, normed)
        ids_tier = _TieredSegments(
            compact_every, [init_ids] if init_ids is not None else []
        )

    def _pair_drops(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
        """Per-pair matched-frame-count threshold -> doc_ids to drop.
        left_anti consumers are duplicate-insensitive, and at the default
        threshold of 1 the groupBy is skipped entirely (no extra
        exchange)."""
        if min_matching_frames <= 1:
            return pairs.select(F.col(b_col).alias("doc_id"))
        return (
            pairs.groupBy(a_col, b_col)
            .agg(F.count(F.lit(1)).alias("mf"))
            .filter(F.col("mf") >= min_matching_frames)
            .select(F.col(b_col).alias("doc_id"))
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with scope():
            batch_df = _ingest_batch_guard(batch_df, out_dir, batch_id)
            if batch_df is None:
                return  # committed replay: output and state already have it
            ids_union = ids_tier.union()
            if ids_union is not None:
                # id-replay guard: re-delivered docs (including undecodable /
                # degenerate ones the perceptual path cannot see) drop here
                batch_df = batch_df.join(ids_union, "doc_id", "left_anti")
            batch_df = checkpoint(batch_df)
            ph = hasher(batch_df)
            if "frame_idx" not in ph.columns:
                ph = ph.withColumn("frame_idx", F.lit(0))
            # the hash table feeds three consumers (within-batch self-join
            # sides + the index join + the kept-segment advance): decode once
            ph = checkpoint(ph)
            # left_anti is duplicate-insensitive: no distinct needed on drops
            drops = _pair_drops(
                _phash_verified_pairs(ph, max_hamming, max_block_freq),
                "doc_a",
                "doc_b",
            )
            index_ph = seg_tier.union()
            if index_ph is not None:
                drops = drops.unionByName(
                    _pair_drops(
                        media_near_dup_against_index(
                            ph, index_ph, max_hamming, max_block_freq
                        ),
                        "index_doc",
                        "new_doc",
                    )
                )
            kept = checkpoint(batch_df.join(drops, "doc_id", "left_anti"))
            # r14 (guide §2.6): the survivor write and the two O(batch) state
            # segments are independent jobs over the materialized `kept`/`ph`
            # checkpoints — overlap them on driver threads; tier adds still
            # gate on the write (state advances only after the batch directory
            # committed); landed segments are freed if any of the jobs fails.
            ids_ck, seg_ck = _write_with_segment_checkpoints(
                lambda: kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}"),
                [kept.select("doc_id"), ph.join(kept.select("doc_id"), "doc_id", "left_semi")],
            )
            # state advances are O(batch) on BOTH tables; tier merges amortize
            ids_tier.add(ids_ck, batch_id)
            seg_tier.add(seg_ck, batch_id)

    return (
        media_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def rebuild_media_ingest_state(spark, out_dir: str, hash_fn=None):
    """Restart-time state rebuild for streaming_media_dedup_ingest:
    (kept_ids, [phash_segment]) over every COMMITTED batch directory —
    one decode pass over the survivors, exactly the state the sink would
    hold (partial directories without _SUCCESS are excluded and will be
    replayed). Returns None when nothing has committed yet."""
    from ..operators.multimodal import image_phash

    committed = [d for d, _ in _committed_batches(spark, out_dir)]
    if not committed:
        return None
    kept = spark.read.parquet(*committed).select("doc_id", "content")
    ph = (hash_fn or image_phash)(kept)
    if "frame_idx" not in ph.columns:
        ph = ph.withColumn("frame_idx", F.lit(0))
    return (
        kept.select("doc_id").localCheckpoint(eager=True),
        [ph.localCheckpoint(eager=True)],
    )


def rebuild_dedup_ingest_state(spark, out_dir: str):
    """Restart-time state rebuild for streaming_dedup_ingest: the
    (shingle, signature) index over every COMMITTED batch directory —
    directories without a _SUCCESS marker are partial writes from the
    crash and are excluded (their batch will be replayed and re-written).
    Returns None when nothing has committed yet. Listing goes through the
    Hadoop FileSystem API, so the marker contract holds identically on
    local disk, HDFS, and object stores."""
    from ..operators.dedup import build_dedup_index

    committed = [d for d, _ in _committed_batches(spark, out_dir)]
    if not committed:
        return None
    kept = spark.read.parquet(*committed).select("doc_id", "text")
    sh, sig = build_dedup_index(kept)
    return (sh.localCheckpoint(eager=True), sig.localCheckpoint(eager=True))


def stream_interval_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition: each
    `left_type` event joins the same user's `right_type` events that happen
    within `within` AFTER it (view → purchase attribution).

    The canonical Structured Streaming two-stream join: BOTH sides carry a
    watermark and the join predicate bounds event time in both directions,
    so each side's buffered state is evictable once the watermark passes —
    without the time bound the state would grow forever. On bounded input
    the result equals the identical batch self-join (pinned by
    tests/test_streaming.py), while the unbounded deployment gets state
    cleanup for free.
    """
    l = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    r = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    return l.join(
        r,
        F.expr(
            f"l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    ).select(
        "l_id",
        "r_id",
        F.col("l_user").alias("user_id"),
        "l_ts",
        "r_ts",
        # fixed-point, not round(double)*100: the double product truncates
        # under the bigint cast (0.29 -> 28.999... -> 28)
        (F.col("r_value").cast("decimal(14,2)") * 100).cast("bigint").alias("purchase_cents"),
    )
