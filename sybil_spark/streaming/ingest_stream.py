"""Structured-Streaming ingestion — continuous sybil.

The reference has no streaming engine; continuous behavior is shell
loops re-running ingest/digest (reference scripts/steady_ingest.sh,
scripts/stress_ingest_digest.sh; SURVEY.md §2.7). Here the same
lifecycle is a first-class stream:

    readStream(ndjson dir) → coerce (ingest typing rules)
        → writeStream into TABLE/ingest/   (the row log)

and, instead of query-time-only rollups, an optional continuously
maintained time-bucket aggregate with watermarked late-data handling
— something the reference can only do by rescanning.

At scale: the file source tracks processed files in the checkpoint;
`maxFilesPerTrigger` bounds batch size; the landing dir is the same
one batch `compact.digest` compacts (digest is safe to run between
micro-batches because it only moves files the stream has already
committed)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from sybil_spark.sources import commit
from sybil_spark.sources.ingest import IngestSpec, coerce
from sybil_spark.table import Table


def _meta_file(index_path: str) -> str:
    import os
    # underscore prefix: Spark's parquet reader ignores it inside a
    # dataset directory, so the sidecar can live in the index dir
    return os.path.join(index_path, "_index_meta.json")


class StreamDedupIndex:
    """ONE descriptor for the five streaming dedup index legs (exact
    key hashes / minhash bands / embedding buckets+vectors / span
    hashes / window hashes). Each index is a parquet dataset dir (or
    a dir of named sub-datasets) plus a `_index_meta.json` sidecar:

        {"kind": "<leg name>", "params": {...}, "subdirs": [...]}

    The sidecar makes structural mismatches fail FAST: a stream (or
    compactor) opened with different parameters than the index was
    built with — bands=16 vs 32, span_words=3 vs 4, even different
    key_cols on the exact leg — raises instead of silently matching
    nothing and re-emitting every historical duplicate.

    Layout contract shared by every leg — EXACTLY-ONCE under replay:
    each micro-batch writes its rows (index contributions AND the
    leg's out_path survivors) into its own `batch-<id>/` sub-
    directory with overwrite, so a crash-replayed batch REPLACES its
    own output instead of appending a duplicate; index reads EXCLUDE
    the current batch's subdir, so a replay whose first attempt
    already committed index rows recomputes against exactly the
    history its first attempt saw (never its own contribution —
    which would mark every row stale and wipe the output).
    Bootstrap helpers write loose files at the dataset root; readers
    take the union (recursive listing). `compact_dedup_index` folds
    committed batch subdirs + loose files into one distinct fold
    under the index path lock, recording the highest folded batch id
    in a `_fold_watermark.json` sidecar; a replayed batch at or
    below the watermark SKIPS (its rows are already in the fold and
    its out subdir was committed before the fold could see it) —
    the same protocol as the unigram model's compaction. Every leg
    runs that protocol through ONE method, `batch_protocol`, started
    by `sink`; a leg supplies only its own per-batch step."""

    def __init__(self, path: str, kind: str, params: dict,
                 subdirs: list[str] | None = None):
        self.path = path
        self.kind = kind
        self.params = dict(params)
        self.subdirs = list(subdirs or [])

    @property
    def meta(self) -> dict:
        return {"kind": self.kind, "params": self.params,
                "subdirs": self.subdirs}

    def check(self) -> None:
        """Raise on a parameter/kind mismatch vs the persisted
        sidecar (no-op when the index doesn't exist yet) — a mismatch
        (e.g. bands=16 index, bands=32 stream) makes the equi-join
        match nothing and every historical dup re-emit, with no error
        anywhere. A sidecar in the pre-descriptor FLAT format (bare
        params dict, written before kind/subdirs existed) is accepted
        when its params match and upgraded in place — an existing
        index must not fail its stream on a format change its
        parameters survive."""
        p = _meta_file(self.path)
        stored = commit.read_json(p, None)
        if stored is None:
            return
        if "kind" not in stored and stored == self.params:
            commit.write_json(p, self.meta)   # upgrade legacy sidecar
            return
        if stored != self.meta:
            raise ValueError(
                f"index at {self.path} was built with {stored}, "
                f"stream configured with {self.meta} — rebuild the "
                "index or match the parameters")

    def data_path(self, sub: str | None = None) -> str:
        import os
        return os.path.join(self.path, sub) if sub else self.path

    def read(self, spark: SparkSession, sub: str | None = None,
             exclude_batch: int | None = None,
             schema: StructType | None = None) -> DataFrame | None:
        """Union of every committed dataset piece (loose files, fold
        dirs, batch subdirs), minus `exclude_batch`'s own subdir.
        A leg passes the `schema` its own index rows have (or the
        columns it needs of them): reading with it skips the Spark
        job that infers the schema from a parquet footer."""
        paths = _dataset_pieces(self.data_path(sub), exclude_batch)
        if not paths:
            return None
        return _read_pieces(spark, paths, schema)

    def append_batch(self, df: DataFrame, batch_id: int,
                     sub: str | None = None) -> None:
        """Idempotent per-batch commit: overwrite this batch's own
        subdir (replay replaces, never duplicates)."""
        _write_out_batch(df, self.data_path(sub), batch_id)

    def overwrite(self, df: DataFrame, sub: str | None = None) -> None:
        df.write.mode("overwrite").parquet(self.data_path(sub))

    def commit_meta(self) -> None:
        """Write the sidecar on the index's first commit (an existing
        one was already validated by `check`)."""
        import os

        p = _meta_file(self.path)
        if not os.path.exists(p):
            commit.write_json(p, self.meta)

    def fold_watermark(self) -> int:
        return _read_fold_watermark(self.path)

    def maybe_compact(self, spark: SparkSession) -> bool:
        """Auto-compaction for callers ALREADY HOLDING the index
        lock (every leg's write_batch): fold committed batch dirs +
        loose pieces once any sub-dataset's piece count passes
        `ingest.FILE_DIGEST_THRESHOLD` (the reference's 256-file
        threshold — the bm25/ivfpq add contract, applied to the
        dedup-index lifecycle). Counting is directory metadata only;
        the fold is semantically transparent (set semantics +
        watermark fencing), so a long-running stream stays under the
        file-listing budget with no caller involvement."""
        from sybil_spark.sources import ingest
        worst = max(len(_dataset_pieces(self.data_path(s)))
                    for s in (self.subdirs or [None]))
        if worst <= ingest.FILE_DIGEST_THRESHOLD:
            return False
        _compact_dedup_index_locked(spark, self.path)
        return True

    def batch_protocol(self, step):
        """The exactly-once micro-batch protocol shared by every
        dedup leg, for callers holding the index lock (`sink` runs it
        under `_foreach_batch`'s lock). `step(batch_df, batch_id)` is
        the leg's own work: read the index minus its own batch dir,
        write its `batch-<id>` out/index dirs. Around it: the sidecar
        check ALWAYS first (a parameter mismatch must raise even for
        a batch the fold watermark would skip), then the fence (a
        batch at or below the watermark was committed AND folded
        before an unclean stop), and after it the sidecar commit and
        the in-lock auto-compaction."""
        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.check()   # always first, even for a fenced batch
            if batch_id <= self.fold_watermark():
                return   # committed AND folded before an unclean stop
            step(batch_df, batch_id)
            self.commit_meta()
            self.maybe_compact(batch_df.sparkSession)

        return write_batch

    def sink(self, df: DataFrame, checkpoint: str,
             step) -> StreamingQuery:
        """Start `df` as a dedup leg: `batch_protocol(step)` per
        non-empty micro-batch, under the index path lock."""
        return _foreach_batch(df, checkpoint, self.batch_protocol(step),
                              lock_path=self.path)


def _batches(root: str) -> list[tuple[int, str]]:
    """(id, dir) of the COMMITTED `batch-<id>` subdirs of one dataset
    dir. A batch/fold subdir counts only with its _SUCCESS marker: a
    dir left by a write that died mid-flight (only _temporary
    inside) must be invisible to readers AND to compaction — folding
    past a half-written batch would advance the watermark over it
    and permanently skip its replay (silent index-row loss)."""
    out = []
    for b, p in commit.pieces(root, "batch-", "_SUCCESS"):
        try:
            out.append((int(b), p))
        except ValueError:
            pass
    return out


def _dataset_pieces(root: str, exclude_batch: int | None = None,
                    max_batch: int | None = None) -> list[str]:
    """Readable pieces of one dataset dir, in name order: loose
    parquet files, COMMITTED fold-* dirs, and COMMITTED batch-<id>
    subdirs (optionally excluding one batch id / capping at
    max_batch)."""
    import os
    loose = [p for n, p in commit.pieces(root)
             if n.endswith(".parquet") and not n.startswith(("_", "."))
             and os.path.isfile(p)]
    folds = [p for _f, p in commit.pieces(root, "fold-", "_SUCCESS")]
    batches = [p for b, p in _batches(root) if b != exclude_batch
               and (max_batch is None or b <= max_batch)]
    return sorted(loose + folds + batches)


def _read_pieces(spark: SparkSession, paths: list[str],
                 schema: StructType | None = None) -> DataFrame:
    reader = spark.read.option("recursiveFileLookup", "true")
    return (reader.schema(schema) if schema else reader).parquet(*paths)


def _write_out_batch(df: DataFrame, out_path: str,
                     batch_id: int) -> None:
    """The legs' exactly-once survivor commit: overwrite this
    batch's own `batch-<id>` dir under out_path (replay replaces the
    identical recomputation, never appends a duplicate delivery)."""
    import os
    df.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch-{batch_id}"))


def _decide(docs: DataFrame, id_col: str,
            drop: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ONE decision snapshot of a dedup micro-batch: `docs`
    left-joined to a drop flag for the lazy drop set `drop` (an `id`
    column, repeats allowed), taken with a single localCheckpoint —
    the drop set's plan (self-join, index probe, verification) runs
    once, not once per write that needs it. Returns (survivors: the
    docs not dropped, in docs' own columns — a NULL id never
    matches, so it passes through; dropped: the `id`s of the docs
    that matched). The flag is broadcast: it holds at most one
    batch of ids, but a batch snapshot carries no size statistics
    (it reports 8 EiB), so the planner would otherwise pick a
    sort-merge join behind two shuffle stages."""
    flag = F.broadcast(drop.select(F.col("id").alias("__drop_id"),
                                   F.lit(True).alias("__drop")).distinct())
    snap = (docs.join(flag, docs[id_col] == flag["__drop_id"], "left")
                .drop("__drop_id").localCheckpoint())
    return (snap.where(F.col("__drop").isNull()).drop("__drop"),
            snap.where(F.col("__drop")).select(F.col(id_col).alias("id")))


def read_stream_output(spark: SparkSession, out_path: str) -> DataFrame:
    """Read a streaming dedup leg's out_path (per-batch `batch-<id>`
    commit dirs — the exactly-once layout). Plain
    spark.read.parquet(out_path) sees no root-level files; use this
    (or recursiveFileLookup) instead."""
    return _read_pieces(spark, [out_path])


def compact_dedup_index(spark: SparkSession, index_path: str) -> int:
    """Fold a streaming dedup index's committed batch subdirs and
    loose/bootstrap files into one distinct `fold-*` dataset per
    sub-dataset — run periodically when file-listing cost grows;
    safe while the stream is live (shares the index path lock with
    every leg's write_batch). Returns rows after compaction.

    Only batches committed in EVERY sub-dataset fold (fold cap =
    min over datasets of the max present batch id): a crash between
    an embedding leg's vectors and buckets writes must not fold a
    half-committed batch — the replay rewrites it instead. Crash
    ordering inside compaction: fold dirs are written first, the
    watermark second, removals of the folded sources last — a crash
    at any point leaves only benign duplicates (readers here have
    set semantics) that the next compaction clears, never a replay
    that can see its own contribution."""
    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        return _compact_dedup_index_locked(spark, index_path)


def _compact_dedup_index_locked(spark: SparkSession,
                                index_path: str) -> int:
    """compact_dedup_index's body, for callers already holding the
    index path lock (StreamDedupIndex.maybe_compact runs the fold
    inside a leg's own write_batch lock hold)."""
    import os
    import shutil
    import uuid

    meta_p = _meta_file(index_path)
    meta = commit.read_json(meta_p, None)
    if meta is None:
        raise FileNotFoundError(
            f"{meta_p} missing — not a stream dedup index (bootstrap "
            "helpers and streams write the sidecar on first commit)")
    subs = meta.get("subdirs") or [None]
    total = 0
    roots = [os.path.join(index_path, s) if s else index_path
             for s in subs]
    # fold cap: only batch ids COMMITTED (_SUCCESS present — a
    # half-written dir from a crash must be left for replay, not
    # folded past and watermarked away) in EVERY dataset
    maxes = [max((b for b, _p in _batches(r)), default=None)
             for r in roots]
    real = [m for m in maxes if m is not None]
    # fold batches only when every dataset has committed them;
    # otherwise (a crash split a batch across datasets) leave
    # ALL batch dirs for replay and fold just the loose pieces
    cap = min(real) if (real and len(real) == len(roots)) else -1
    prev_wm = _read_fold_watermark(index_path)
    # 1) write the fold dirs
    staged = []   # (root, folded_sources, fold_dir)
    for r in roots:
        pieces = _dataset_pieces(r, max_batch=cap)
        if len(pieces) <= 1:
            total += (_read_pieces(spark, pieces).count()
                      if pieces else 0)
            continue
        folded = _read_pieces(spark, pieces).distinct() \
            .localCheckpoint(eager=True)
        fold_dir = os.path.join(r, f"fold-{uuid.uuid4().hex[:8]}")
        folded.coalesce(
            max(1, folded.rdd.getNumPartitions() // 8)) \
            .write.mode("overwrite").parquet(fold_dir)
        staged.append((r, pieces, fold_dir))
        total += folded.count()
    # 2) advance the watermark (replays of folded ids now skip)
    commit.write_json(_fold_watermark_path(index_path),
                      {"max_folded_batch_id": max(prev_wm, cap)})
    # 3) remove the folded sources
    for _r, pieces, _fd in staged:
        for p in pieces:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
    return total


def _batch_lock(scope: str | Table):
    """The lifecycle lock one micro-batch holds — a store path's
    lock, or a Table's per-table lock. It waits up to 300 s behind a
    compaction/digest; past that the batch fails with LockHeld BEFORE
    its checkpoint commit, so it replays instead of being lost."""
    from sybil_spark.sources.locks import path_lock, table_lock
    lock = table_lock if isinstance(scope, Table) else path_lock
    return lock(scope, timeout_s=300.0)


def _batch_fn(write_batch, lock_path: str | None = None):
    """The callable `_foreach_batch` hands to Spark: an empty
    micro-batch returns before any lock or write; otherwise
    `write_batch` runs, inside `lock_path`'s lifecycle lock when one
    is given."""
    from contextlib import nullcontext

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with _batch_lock(lock_path) if lock_path else nullcontext():
            write_batch(batch_df, batch_id)

    return run


def _foreach_batch(df: DataFrame, checkpoint: str, write_batch,
                   lock_path: str | None = None) -> StreamingQuery:
    """Start `df` through the one foreachBatch sink every
    micro-batch leg shares (see `_batch_fn`)."""
    return (df.writeStream.foreachBatch(_batch_fn(write_batch, lock_path))
            .option("checkpointLocation", checkpoint)
            .outputMode("append").start())


def stream_ingest(spark: SparkSession, source_dir: str, table: Table,
                  schema: StructType, spec: IngestSpec | None = None,
                  checkpoint: str | None = None,
                  max_files_per_trigger: int = 64,
                  auto_digest: bool = False) -> StreamingQuery:
    """NDJSON files appearing under `source_dir` → row log, with the
    reference's type coercions applied per micro-batch.

    `auto_digest=True` is the fully continuous lifecycle: each
    micro-batch appends to the landing dir and then compacts it when
    it passes the reference's file/byte thresholds (ingest.
    maybe_digest) — ingest, row log, and block store all maintained
    by one streaming query, the thing the reference approximates
    with shell loops. This mode writes through foreachBatch
    (plain appends + digests between batches), trading the file
    sink's _spark_metadata exactly-once ledger for at-least-once on
    crash-replayed batches — same documented edge as running batch
    digest beside the plain sink."""
    spec = spec or IngestSpec()
    raw = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .json(source_dir))
    out = coerce(raw, spec)
    ckpt = checkpoint or f"{table.path}/_checkpoint_ingest"
    if auto_digest:
        from sybil_spark.sources.ingest import maybe_digest

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            # lock the append: a concurrent digest process would
            # wipe this write's in-flight _temporary committer dir.
            # maybe_digest re-takes the lock itself.
            with _batch_lock(table):
                batch_df.write.mode("append").parquet(table.ingest_path)
            maybe_digest(batch_df.sparkSession, table)

        return _foreach_batch(out, ckpt, write_batch)
    return (out.writeStream
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start(table.ingest_path))


def stream_rollup(df: DataFrame, time_col: str, bucket_seconds: int,
                  group_cols: list[str], agg_col: str | None = None,
                  watermark: str = "1 hour") -> DataFrame:
    """Continuously maintained tumbling-window aggregate, the
    streaming analog of Query.time_col (reference -time rollup,
    src/lib/aggregate.go:145-183).

    `df` must be a streaming DataFrame whose `time_col` is unix
    seconds (LongType). Late rows beyond `watermark` are dropped —
    the batch engine's rescan semantics cover them instead."""
    ts = F.col(time_col).cast("timestamp")
    w = F.window(ts, f"{bucket_seconds} seconds")
    aggs = [F.count(F.lit(1)).alias("count")]
    if agg_col:
        aggs.append(F.avg(agg_col).alias(f"avg_{agg_col}"))
    return (df.withColumn("__ts", ts)
              .withWatermark("__ts", watermark)
              .groupBy(F.window(F.col("__ts"), f"{bucket_seconds} seconds"),
                       *[F.col(c) for c in group_cols])
              .agg(*aggs)
              .select(F.col("window.start").cast("long").alias("tbucket"),
                      *group_cols,
                      *[F.col(a) for a in
                        (["count"] + ([f"avg_{agg_col}"] if agg_col else []))]))


def stream_sessions(df: DataFrame, time_col: str, key_cols: list[str],
                    gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Event-time session windows per key (built-in session_window —
    state store managed, mergeable across micro-batches). A session
    closes when no event arrives for `gap`; late rows beyond
    `watermark` are dropped. Output: key..., session start/end (unix
    seconds), event count."""
    ts = F.col(time_col).cast("timestamp")
    return (df.withColumn("__ts", ts)
              .withWatermark("__ts", watermark)
              .groupBy(F.session_window(F.col("__ts"), gap),
                       *[F.col(c) for c in key_cols])
              .agg(F.count(F.lit(1)).alias("count"))
              .select(*key_cols,
                      F.col("session_window.start").cast("long")
                       .alias("session_start"),
                      F.col("session_window.end").cast("long")
                       .alias("session_end"),
                      "count"))


def stream_running_counts(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Cumulative per-key event count across ALL micro-batches — a
    custom stateful operator via applyInPandasWithState (the pattern
    for state Spark's built-ins can't express: per-key accumulators,
    custom eviction, model state, ...).

    State is one long per key in the state store (checkpointed,
    recoverable); each batch emits the key's updated total. Use
    outputMode('update') on the sink."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"key": ["\x1f".join(map(str, key))],
                            "total": [total]})

    return (df.groupBy(*[F.col(c) for c in key_cols])
              .applyInPandasWithState(update,
                                      "key string, total long",
                                      "total long",
                                      "update",
                                      GroupStateTimeout.NoTimeout))


def stream_rollup_partials(df: DataFrame, rollup_path: str,
                           time_col: str, bucket_s: int,
                           group_cols: list[str], num_cols: list[str],
                           distinct_cols: list[str] | None = None,
                           checkpoint: str | None = None) -> StreamingQuery:
    """Continuously maintain a materialized rollup (sources/rollup.py)
    from a stream: every micro-batch aggregates to mergeable partials
    (decimal sums, min/max, HLL sketches) and APPENDS them — no
    read-modify-write, no state store growth. serve() re-merges
    overlapping partials on read, and compact_rollup() (or a
    periodic batch re-build) folds them together when the partial
    count grows. Exactness: appends of mergeable partials commute,
    so a served result equals the one-shot batch rollup bit-for-bit
    (decimal sums are associative) — asserted in tests.

    This is the incremental materialized view the reference
    approximates with its per-block query cache
    (src/lib/query_cache.go) — but maintainable under continuous
    ingest and mergeable across any grouping of batches.

    Each micro-batch append holds the rollup-path lifecycle lock, so
    compact_rollup/refresh_rollup may now run WHILE the stream is
    live: their dir swap queues behind an in-flight batch and an
    arriving batch queues behind the swap, instead of the batch's
    files being renamed away mid-append (the pre-lock failure
    mode)."""
    from sybil_spark.sources.rollup import build_rollup, write_rollup

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # write through write_rollup so the partition depth
        # (__day, __inc) matches every other rollup writer —
        # mixing depths under one root breaks partition discovery
        # after a compact_rollup rewrite
        write_rollup(
            build_rollup(batch_df, time_col, bucket_s, group_cols,
                         num_cols, distinct_cols),
            rollup_path, mode="append", inc=f"stream-{batch_id}")

    return _foreach_batch(df, checkpoint or rollup_path + "_checkpoint",
                          write_batch, lock_path=rollup_path)


def stream_dedup_against_index(df: DataFrame, key_cols: list[str],
                               id_col: str, out_path: str,
                               index_path: str,
                               checkpoint: str | None = None
                               ) -> StreamingQuery:
    """Continuous corpus-level exact dedup: each micro-batch first
    dedups within itself (operators.dedup.exact_keep_first), then
    drops rows whose key hash is already in the PERSISTED index
    (operators.dedup.filter_seen) — i.e. seen in any earlier batch or
    in the historical corpus the index was bootstrapped from
    (hash_index). Survivors append to `out_path`; their hashes append
    to the index.

    Contrast with stream_dedup (dropDuplicatesWithinWatermark):
    state there lives in the state store and is bounded by the
    watermark window; here the 'state' is the 8-bytes-per-key parquet
    index — unbounded history at ~1 GB per 130M distinct keys, the
    right trade for training-corpus dedup where duplicates arrive
    years apart. EXACTLY-ONCE under replay via the StreamDedupIndex
    batch-commit layout: the batch's survivors and index rows land
    in their own batch-<id> dirs (overwrite — replay replaces), the
    index read excludes the batch's own dir (a replay whose first
    attempt committed index rows recomputes against the history its
    first attempt saw), and batches at/below the compaction fold
    watermark skip. Read out_path with `read_stream_output`. The
    sidecar makes a stream opened with different key_cols than the
    index was built with raise instead of silently hashing
    different columns and re-admitting every historical duplicate."""
    from sybil_spark.operators.dedup import (exact_keep_first, filter_seen,
                                             hash_index)

    sdi = StreamDedupIndex(index_path, "exact_keys",
                           {"key_cols": list(key_cols)})

    def step(batch_df: DataFrame, batch_id: int) -> None:
        fresh = exact_keep_first(batch_df, key_cols, id_col)
        idx = sdi.read(batch_df.sparkSession, exclude_batch=batch_id)
        if idx is not None:
            fresh = filter_seen(fresh, key_cols, idx)
        fresh = fresh.localCheckpoint()  # both writes: one snapshot
        _write_out_batch(fresh, out_path, batch_id)
        sdi.append_batch(hash_index(fresh, key_cols), batch_id)

    return sdi.sink(df, checkpoint or out_path + "_checkpoint", step)


def bootstrap_minhash_band_index(df: DataFrame, id_col: str,
                                 text_col: str, index_path: str,
                                 num_hashes: int = 64, bands: int = 16,
                                 shingle_n: int = 3) -> None:
    """Seed the stream_near_dedup_against_index band index from an
    existing (historical) corpus — writes the band rows AND the
    parameter sidecar, so a stream started with different hash
    parameters fails fast instead of silently matching nothing."""
    from sybil_spark.operators.dedup import minhash_bands

    sdi = StreamDedupIndex(index_path, "minhash_bands",
                           {"num_hashes": num_hashes, "bands": bands,
                            "shingle_n": shingle_n})
    sdi.overwrite(
        minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_n))
    sdi.commit_meta()


def stream_near_dedup_against_index(df: DataFrame, id_col: str,
                                    text_col: str, out_path: str,
                                    index_path: str,
                                    num_hashes: int = 64,
                                    bands: int = 16,
                                    shingle_n: int = 3,
                                    checkpoint: str | None = None
                                    ) -> StreamingQuery:
    """Continuous corpus-level NEAR-dup filtering: the streaming
    analog of the batch minhash_dedup_pairs pipeline. Each
    micro-batch:

    1. computes every document's MinHash LSH band fingerprints
       (operators.dedup.minhash_bands — `bands` narrow rows per doc);
    2. drops within-batch near-dups: any doc that is the larger id
       of a band-collision pair loses (keep-min-id, the same keeper
       rule as the batch clusters corpus query);
    3. drops docs sharing ANY (band, band_hash) with the PERSISTED
       band index — i.e. LSH-similar to something seen in an earlier
       batch or in the historical corpus the index was bootstrapped
       from (write minhash_bands of the corpus to `index_path`);
    4. appends survivors to `out_path`, then their bands to the
       index.

    A batch takes three snapshots (localCheckpoint): the batch docs,
    their bands, and ONE decision snapshot — the docs left-joined to
    a drop flag for the lazy drop set of steps 2-3 (see `_decide`).
    Both writes read the decision snapshot (the index write
    anti-joins the bands snapshot with its dropped ids), so the
    self-join and the index probe run once per batch.

    State is the parquet band index: `bands` rows x ~24 bytes per
    document ever kept — ~2.4 GB per 100M documents at the 16-band
    default, partition-prunable and shared across restarts, where
    the state-store alternative would pin signatures in executor
    memory. The index filter is a semi-join on (band, band_hash) —
    an equi-join that co-partitions at any scale, same shape as the
    batch candidate join.

    Semantics note: band collision is the LSH *candidate* relation —
    the standard scalable training-corpus filter (drop likely dups;
    tune precision with bands/num_hashes: fewer bands = wider rows
    per band = fewer false drops). Exact-Jaccard verification needs
    the matched docs' TEXT, which the index deliberately does not
    carry; run the batch jaccard_pairs over `out_path` for an audit
    pass (read it with `read_stream_output`). Rows with NULL text
    produce no bands and PASS THROUGH (they duplicate nothing) —
    dedup must never lose records. The index carries a
    `_index_meta.json` sidecar (hash parameters); a stream started
    with different parameters than the index was built with raises
    instead of silently matching nothing. EXACTLY-ONCE under replay
    via the StreamDedupIndex batch-commit layout (own-batch
    exclusion + fold watermark), like stream_dedup_against_index."""
    from sybil_spark.operators.dedup import minhash_bands

    sdi = StreamDedupIndex(index_path, "minhash_bands",
                           {"num_hashes": num_hashes, "bands": bands,
                            "shingle_n": shingle_n})

    def step(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.localCheckpoint()  # the batch, once
        bnd = minhash_bands(docs, id_col, text_col, num_hashes,
                            bands, shingle_n).localCheckpoint()
        # 2. within-batch: losers = larger id of a colliding pair
        a, b = bnd.alias("a"), bnd.alias("b")
        drop = (a.join(b, [F.col("a.band") == F.col("b.band"),
                           F.col("a.band_hash") == F.col("b.band_hash"),
                           F.col("a.id") > F.col("b.id")])
                  .select(F.col("a.id").alias("id")))
        # 3. against the persisted index: docs sharing a band with it
        # (probing every doc, losers too, leaves the drop set the same
        # and keeps the losers' plan out of the probe). Only a
        # MISSING index reads as "first batch"; any other read
        # failure (corrupt footer, transient FS error) must raise —
        # swallowing it would skip history filtering and leak
        # near-dups silently.
        idx = sdi.read(batch_df.sparkSession, exclude_batch=batch_id,
                       schema=bnd.select("band", "band_hash").schema)
        if idx is not None:
            drop = drop.unionByName(
                bnd.join(idx, ["band", "band_hash"], "left_semi")
                   .select("id"))
        # 4. one decision snapshot serves both writes. Survivors are
        # everything NOT dropped — including docs with no bands at
        # all (NULL/short text), which can't collide
        survivors, dropped = _decide(docs, id_col, drop)
        _write_out_batch(survivors, out_path, batch_id)
        sdi.append_batch(bnd.join(F.broadcast(dropped), "id", "left_anti"),
                         batch_id)

    return sdi.sink(df, checkpoint or out_path + "_checkpoint", step)


def stream_embedding_dedup_against_index(df: DataFrame, id_col: str,
                                         vec_col: str, dim: int,
                                         out_path: str, index_path: str,
                                         threshold: float = 0.95,
                                         num_planes: int = 8,
                                         tables: int = 4,
                                         checkpoint: str | None = None
                                         ) -> StreamingQuery:
    """Continuous embedding-cosine near-dup filtering — the third leg
    of the streaming dedup triad (exact keys:
    stream_dedup_against_index; text: stream_near_dedup_against_
    index). Unlike the text band index, an LSH bucket collision here
    is only a CANDIDATE (sign-LSH buckets are coarse), so the index
    keeps two frames: `index_path/buckets` (id, table, bucket —
    operators.dedup.embedding_buckets, OR-amplified) and
    `index_path/vectors` (id, vec) for exact verification. Per
    micro-batch:

    1. bucket the batch (tables x planes JVM fold expressions);
    2. within-batch: bucket-collision candidates → exact
       sequential-fold cosine ≥ threshold → larger id drops;
    3. vs index: batch buckets equi-join persisted buckets →
       candidate (new, old) pairs verify against persisted vectors
       at the same threshold → matched new docs drop;
    4. survivors append, in this order: rows to `out_path`, (id,
       vec) to `vectors`, buckets to `buckets`.

    A batch takes three snapshots (localCheckpoint): the batch docs,
    their buckets, and ONE decision snapshot — the docs left-joined
    to a drop flag for the lazy drop set of steps 2-3 (see
    `_decide`). All three writes read the decision snapshot (the
    buckets write anti-joins the buckets snapshot with its dropped
    ids), so the bucket self-join, the index probe and both cosine
    verifications run once per batch.

    Recall follows the OR-amplified sign-LSH bound
    (similarity._auto_recall — e.g. ~0.98 at cos 0.95 with 8 planes
    x 4 tables); a pair colliding in no table is missed, the
    standard LSH trade that keeps every join an equi-join. A row
    only drops on a VERIFIED cosine match — NULL/odd vectors pass
    through (their fold cosines are NULL, never >= threshold). The
    index carries a `_index_meta.json` sidecar (dim/planes/tables);
    parameter mismatches raise instead of silently matching nothing.
    EXACTLY-ONCE under replay via the StreamDedupIndex batch-commit
    layout, like its siblings (compaction only folds batches
    committed in BOTH sub-datasets — see compact_dedup_index); read
    out_path with `read_stream_output`."""
    from sybil_spark.functions.vectors import cosine
    from sybil_spark.operators.dedup import embedding_buckets

    sdi = StreamDedupIndex(index_path, "embedding_lsh",
                           {"dim": dim, "num_planes": num_planes,
                            "tables": tables},
                           subdirs=["buckets", "vectors"])

    def vec_rows(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("vec"))

    def step(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.localCheckpoint()  # the batch, once
        bkt = embedding_buckets(docs, id_col, vec_col, dim,
                                num_planes, tables).localCheckpoint()
        va = docs.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("__va"))
        # 2. within-batch: collide → verify → keep-min-id
        a, b = bkt.alias("a"), bkt.alias("b")
        cand = (a.join(b, [F.col("a.table") == F.col("b.table"),
                           F.col("a.bucket") == F.col("b.bucket"),
                           F.col("a.id") > F.col("b.id")])
                  .select(F.col("a.id").alias("id"),
                          F.col("b.id").alias("id_keep")).distinct())
        vb = docs.select(F.col(id_col).alias("id_keep"),
                         F.col(vec_col).alias("__vb"))
        drop = (cand.join(va, "id").join(vb, "id_keep")
                    .where(cosine("__va", "__vb") >= threshold)
                    .select("id"))
        # 3. against the persisted index: bucket hits, verified
        # against the persisted vectors (every doc probes, as in the
        # near-dup leg)
        spark = batch_df.sparkSession
        idx_b = sdi.read(spark, "buckets", exclude_batch=batch_id,
                         schema=bkt.schema)
        idx_v = sdi.read(spark, "vectors", exclude_batch=batch_id,
                         schema=vec_rows(docs).schema) \
            if idx_b is not None else None
        if idx_b is not None and idx_v is not None:
            hits = (bkt.join(idx_b.withColumnRenamed("id", "old_id"),
                             ["table", "bucket"])
                       .select("id", "old_id").distinct())
            drop = drop.unionByName(
                hits.join(va, "id")
                    .join(idx_v.select(F.col("id").alias("old_id"),
                                       F.col("vec").alias("__vb")),
                          "old_id")
                    .where(cosine("__va", "__vb") >= threshold)
                    .select("id"))
        # 4. one decision snapshot serves all three writes. A row
        # only drops on a verified cosine match, never for lacking
        # buckets/vector
        survivors, dropped = _decide(docs, id_col, drop)
        _write_out_batch(survivors, out_path, batch_id)
        sdi.append_batch(vec_rows(survivors), batch_id, "vectors")
        sdi.append_batch(bkt.join(F.broadcast(dropped), "id", "left_anti"),
                         batch_id, "buckets")

    return sdi.sink(df, checkpoint or out_path + "_checkpoint", step)


def bootstrap_span_index(df: DataFrame, id_col: str, text_col: str,
                         index_path: str, span_words: int = 20) -> None:
    """Seed the stream_span_dedup_against_index span-hash index from
    an existing (historical) corpus — writes the distinct 8-byte span
    hashes under the stream's expected `__h` column AND the parameter
    sidecar, so a stream started with a different span_words fails
    fast instead of silently matching nothing (the exact mirror of
    bootstrap_minhash_band_index for the fourth dedup leg)."""
    from sybil_spark.operators.dedup import doc_spans

    sdi = StreamDedupIndex(index_path, "span_hashes",
                           {"span_words": span_words})
    sdi.overwrite(doc_spans(df, id_col, text_col, span_words)
                  .select(F.xxhash64("span").alias("__h")).distinct())
    sdi.commit_meta()


def stream_span_dedup_against_index(df: DataFrame, id_col: str,
                                    text_col: str, out_path: str,
                                    index_path: str,
                                    span_words: int = 20,
                                    checkpoint: str | None = None
                                    ) -> StreamingQuery:
    """Continuous span-level exact-substring dedup — the streaming
    analog of the batch `dedup.span_dedup`, and the fourth leg of the
    streaming dedup family (exact keys / MinHash text / embeddings /
    spans). Unlike the doc-level filters, this REWRITES documents:
    each arriving doc keeps only the spans never seen before, where
    "seen" means an earlier (id, pos) in the same micro-batch or any
    span hash in the persisted index from prior batches / the
    bootstrapped corpus (use `bootstrap_span_index` to seed it — the
    helper writes the hashes under the expected `__h` column and the
    `_index_meta.json` parameter sidecar).

    Every input doc emits exactly one output row — original columns
    plus (n_spans, n_kept, dedup_text); a fully-stale doc arrives
    with n_kept = 0 and dedup_text = '' (callers filter, dedup never
    silently loses records). State is 8 bytes per distinct span ever
    kept — ~1/span_words of the corpus's token count — vs the raw
    text the batch operator re-scans; the price is the
    xxhash64-collision caveat of `filter_seen` (a collision against
    the INDEX cuts a genuinely new span with P ≈ |index|/2⁶⁴ —
    acceptable for corpus text, not for financial keys; the
    within-batch pass shares the batch operator's hash+re-check
    protocol, span_first_flags, so only the index compare carries
    the caveat — the state-size trade that makes the index 8
    bytes/span). EXACTLY-ONCE under replay via the StreamDedupIndex
    batch-commit layout (own-batch exclusion + fold watermark), like
    its siblings — a replay recomputes against exactly the history
    its first attempt saw, so n_kept/dedup_text come out identical
    instead of the old smaller-n_kept re-emission; read out_path
    with `read_stream_output`."""
    from sybil_spark.operators.dedup import doc_spans, span_reassembly_aggs

    sdi = StreamDedupIndex(index_path, "span_hashes",
                           {"span_words": span_words})

    def step(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.localCheckpoint()
        sp = _mark_new_spans(
            doc_spans(docs, id_col, text_col, span_words), id_col,
            sdi.read(batch_df.sparkSession, exclude_batch=batch_id))
        kept = F.col("__new")
        stats = sp.groupBy(id_col).agg(*span_reassembly_aggs(kept))
        _write_out_batch(docs.join(stats, id_col, "left"),
                         out_path, batch_id)
        sdi.append_batch(sp.where(kept).select("__h").distinct(),
                         batch_id)

    return sdi.sink(df, checkpoint or out_path + "_checkpoint", step)


def _mark_new_spans(base: DataFrame, id_col: str,
                    idx: DataFrame | None) -> DataFrame:
    """The span and window legs' shared marking: `base`'s
    (id, pos, span) rows gain their `__h` hash and `__new` = first
    occurrence within the batch AND absent from the index `idx`
    (None = no history yet); snapshotted before the leg's writes."""
    from sybil_spark.operators.dedup import span_first_flags

    # within-batch first occurrence: the batch operator's
    # hash-keyed + collision-re-checked flags (one key path
    # for batch and stream)
    flags = span_first_flags(base, id_col)
    sp = (base.withColumn("__h", F.xxhash64("span"))
              .join(flags, [id_col, "pos"])
              .withColumnRenamed("__kept", "__new"))
    if idx is not None:
        # a span stays kept only if it is new within the
        # batch AND absent from the index — mark via a left
        # join on the distinct historical hashes (equi-join,
        # co-partitions)
        hit = (idx.select("__h").distinct()
                  .withColumn("__hit", F.lit(True)))
        sp = (sp.join(hit, "__h", "left")
                .withColumn("__new", F.col("__new")
                            & F.col("__hit").isNull())
                .drop("__hit"))
    return sp.localCheckpoint()  # snapshot before the writes


def bootstrap_window_index(df: DataFrame, id_col: str, text_col: str,
                           index_path: str,
                           window_words: int = 10) -> None:
    """Seed the stream_exact_substr_against_index window-hash index
    from an existing (historical) corpus — the distinct 8-byte
    hashes of EVERY stride-1 window under the stream's expected
    `__h` column, plus the parameter sidecar (mirror of
    bootstrap_span_index for the unaligned leg)."""
    from sybil_spark.operators.dedup import doc_windows

    sdi = StreamDedupIndex(index_path, "window_hashes",
                           {"window_words": window_words})
    sdi.overwrite(doc_windows(df, id_col, text_col, window_words)
                  .select(F.xxhash64("span").alias("__h")).distinct())
    sdi.commit_meta()


def stream_exact_substr_against_index(df: DataFrame, id_col: str,
                                      text_col: str, out_path: str,
                                      index_path: str,
                                      window_words: int = 10,
                                      checkpoint: str | None = None
                                      ) -> StreamingQuery:
    """Continuous UNALIGNED exact-substring dedup — the streaming
    analog of the batch `dedup.exact_substr_dedup` (full ExactSubstr
    policy: stride-1 windows, token-interval removal), fifth leg of
    the streaming dedup family. Each arriving doc loses every token
    covered by a window whose text occurred earlier: at an earlier
    (id, pos) in the same micro-batch (span_first_flags — the batch
    operator's hash + collision-re-check protocol) or as any window
    hash in the persisted index from prior batches / the
    bootstrapped corpus (`bootstrap_window_index`). Removal and
    reassembly are the batch operator's own
    `token_removal_rebuild` — one code path for both engines.

    Every input doc emits exactly one output row (original columns
    + n_tokens, n_kept, dedup_text; NULL-text rows carry NULL
    stats). State is 8 bytes per distinct window EVER SEEN —
    ~1 hash per token, window_words× the aligned span leg's index
    (the price of catching duplicates at every offset; the aligned
    leg remains the cheaper guard where ingest batches are known to
    align). Index compares carry the same xxhash64-collision caveat
    as the span leg (P ≈ |index|/2⁶⁴ per new window); the
    within-batch pass stays collision-re-checked. EXACTLY-ONCE
    under replay via the StreamDedupIndex batch-commit layout
    (own-batch exclusion + fold watermark); read out_path with
    `read_stream_output`."""
    from sybil_spark.operators.dedup import (doc_windows,
                                             token_removal_rebuild)

    sdi = StreamDedupIndex(index_path, "window_hashes",
                           {"window_words": window_words})

    def step(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.localCheckpoint()
        sp = _mark_new_spans(
            doc_windows(docs, id_col, text_col, window_words), id_col,
            sdi.read(batch_df.sparkSession, exclude_batch=batch_id))
        dup = (sp.where(~F.col("__new"))
                 .select(F.col(id_col).alias("__id"), "pos"))
        stats = token_removal_rebuild(docs, dup, id_col, text_col,
                                      window_words)
        # stats is (id, n_tokens, n_kept, dedup_text) — original
        # columns ride through from docs
        _write_out_batch(docs.join(stats, id_col, "left"),
                         out_path, batch_id)
        # corpus-first windows only: non-firsts are covered by
        # the index (their first is either appended this batch
        # or was already a hit), exactly the span leg's protocol
        sdi.append_batch(sp.where(F.col("__new"))
                           .select("__h").distinct(), batch_id)

    return sdi.sink(df, checkpoint or out_path + "_checkpoint", step)


def stream_dedup(df: DataFrame, key_cols: list[str], time_col: str,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: emit only the first event per key,
    with state bounded by the watermark
    (dropDuplicatesWithinWatermark — duplicates arriving within the
    watermark window are suppressed; state for keys older than the
    watermark is evicted, so memory is O(keys per window), not
    O(all keys ever)). The batch engine's exact_keep_first covers
    full-history dedup; this is the continuous-ingest guard against
    e.g. at-least-once upstream delivery."""
    ts = F.col(time_col).cast("timestamp")
    return (df.withColumn("__ts", ts)
              .withWatermark("__ts", watermark)
              .dropDuplicatesWithinWatermark(key_cols)
              .drop("__ts"))


def stream_join(left: DataFrame, right: DataFrame, key_cols: list[str],
                left_time: str, right_time: str,
                max_delay_seconds: int = 3600,
                watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream inner join (e.g. impression ->
    click attribution): a right event joins a left event with the
    same keys whose time precedes it by at most `max_delay_seconds`.

    Both sides carry event-time watermarks AND the join condition
    bounds right-time to [left-time, left-time + max_delay], which is
    what lets Spark evict join state — without the time bound the
    state store would hold every left row forever. State is
    O(events per watermark window) per key range, not O(stream).
    Output columns: keys..., left_time, right_time, delay_seconds
    (all unix seconds — same convention as the batch asof/range
    joins this operator is the continuous analog of)."""
    l = (left.select(*key_cols,
                     F.col(left_time).cast("long").alias("left_time"))
             .withColumn("__lts", F.col("left_time").cast("timestamp"))
             .withWatermark("__lts", watermark))
    r = (right.select(*[F.col(k).alias(f"__r_{k}") for k in key_cols],
                      F.col(right_time).cast("long").alias("right_time"))
              .withColumn("__rts", F.col("right_time").cast("timestamp"))
              .withWatermark("__rts", watermark))
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    cond = (cond
            & (F.col("__rts") >= F.col("__lts"))
            & (F.col("__rts") <= F.col("__lts")
               + F.expr(f"interval {int(max_delay_seconds)} seconds")))
    return (l.join(r, cond)
             .select(*key_cols, "left_time", "right_time",
                     (F.col("right_time") - F.col("left_time"))
                     .alias("delay_seconds")))


def stream_unigram_counts(df: DataFrame, text_col: str,
                          model_path: str,
                          checkpoint: str | None = None
                          ) -> StreamingQuery:
    """Continuously maintained unigram model: every micro-batch
    appends its token-count PARTIALS to `model_path`; the model is
    the sum over partials (`read_unigram_model`), so appends never
    rewrite history — the same mergeable-partials contract as the
    rollup store. Feed the result to `quality.unigram_logprob(...,
    model=read_unigram_model(...), smooth_k>=1)` for fresh-model
    quality filtering of the very stream being ingested (smoothing is
    mandatory there: a token can arrive before its own count lands).

    Exactly-once under replay: each batch writes its partials to its
    own `batch_id=N` partition directory with dynamic overwrite, so a
    crash-replayed micro-batch REPLACES its partition instead of
    appending a double count (foreachBatch is only at-least-once —
    plain appends here would silently inflate the model forever).
    Consequence: a model dir is bound to ONE checkpoint lineage —
    restarting with a fresh checkpoint restarts batch ids at 0 and
    would overwrite history; use a new model_path with a new
    checkpoint. Partial-file count grows one-per-(batch × shuffle-
    partition); `compact_unigram_model` folds them when listing cost
    matters (only while the stream is stopped — see its docstring).

    Replay-after-compaction: compaction folds every batch partition
    into the batch_id=-1 snapshot and records the highest folded id
    in a `_fold_watermark.json` sidecar; a replayed batch at or below
    that watermark is SKIPPED here instead of re-written. Without the
    watermark, a batch committed to model_path but not to the
    checkpoint at an unclean stop would be folded into the snapshot
    by compaction and then re-created as a fresh partition on replay
    — silently double-counting its tokens, the exact inflation the
    partition-overwrite design exists to prevent."""
    from sybil_spark.functions.text import tokens

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _read_fold_watermark(model_path):
            return  # already folded into the batch_id=-1 snapshot
        (batch_df.select(
            F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(model_path))

    return _foreach_batch(df, checkpoint or model_path + "_checkpoint",
                          write_batch, lock_path=model_path)


def _fold_watermark_path(model_path: str) -> str:
    import os
    # underscore prefix: ignored by the parquet reader in-place
    return os.path.join(model_path, "_fold_watermark.json")


def _read_fold_watermark(model_path: str) -> int:
    """Highest batch id ever folded into the batch_id=-1 snapshot by
    `compact_unigram_model`; -1 when no compaction has happened."""
    wm = commit.read_json(_fold_watermark_path(model_path), None)
    return -1 if wm is None else int(wm["max_folded_batch_id"])


def read_unigram_model(spark: SparkSession, model_path: str) -> DataFrame:
    """(tok, cnt): the current model — one grouped sum over the
    per-batch partition partials, shaped exactly like
    quality.unigram_model."""
    return (spark.read.parquet(model_path)
            .groupBy("tok").agg(F.sum("cnt").alias("cnt")))


def compact_unigram_model(spark: SparkSession, model_path: str) -> None:
    """Fold the appended partials into one summed snapshot in place
    (staged temp-dir swap with crash recovery, shared with the rollup
    store) — run periodically, not per batch. Safe WHILE the stream
    is live: compaction and the stream's write_batch share the
    model-path lifecycle lock, so the dir swap queues behind an
    in-flight micro-batch and vice versa (a partial appended
    mid-compaction would otherwise be renamed away and lost).

    The snapshot keeps the `batch_id=` partition convention
    (batch_id = -1) so post-compaction appends from a RESUMED stream
    (same checkpoint, monotonically increasing real batch ids) mix
    cleanly with it. The highest real batch id being folded is
    recorded in `_fold_watermark.json` INSIDE the staged dir (so the
    snapshot and its watermark swap in atomically together);
    `stream_unigram_counts` skips replayed batches at or below it —
    this is what makes compaction safe after an UNCLEAN stop, where
    the final micro-batch may be committed to model_path but not to
    the checkpoint and would otherwise be folded AND replayed."""
    from sybil_spark.sources.locks import path_lock

    with path_lock(model_path):
        # materialize BEFORE the swap — the write closure must not
        # lazily re-list model_path while the swap is replacing it
        merged = (read_unigram_model(spark, model_path)
                  .withColumn("batch_id", F.lit(-1))
                  .localCheckpoint(eager=True))
        max_row = (spark.read.parquet(model_path)
                   .agg(F.max("batch_id").alias("m")).first())
        folded = max(_read_fold_watermark(model_path),
                     -1 if max_row[0] is None else int(max_row[0]))

        def write(tmp: str) -> None:
            merged.write.partitionBy("batch_id") \
                  .mode("overwrite").parquet(tmp)
            commit.write_json(_fold_watermark_path(tmp),
                              {"max_folded_batch_id": folded})

        commit.staged_swap(model_path, write)


def stream_media_ingest(spark: SparkSession, source_dir: str,
                        out_path: str, pattern: str | None = None,
                        checkpoint: str | None = None,
                        max_files_per_trigger: int = 64
                        ) -> StreamingQuery:
    """Continuous media ingestion: binary files appearing under
    `source_dir` stream into a MEDIA_SCHEMA (+ path) parquet table —
    the streaming front of operators/multimodal.read_media_dir (same
    projection, same extension typing). The file source's checkpoint
    tracks processed files exactly-once through the file sink;
    `maxFilesPerTrigger` bounds batch memory since every row carries
    its whole file."""
    from sybil_spark.operators.multimodal import media_projection

    # the binaryFile source's fixed schema — streaming sources
    # require it explicitly (no inference pass on a stream)
    bin_schema = ("path string, modificationTime timestamp, "
                  "length long, content binary")
    reader = (spark.readStream.format("binaryFile")
              .schema(bin_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    out = media_projection(reader.load(source_dir))
    return (out.writeStream
            .option("checkpointLocation",
                    checkpoint or out_path + "_checkpoint")
            .outputMode("append").start(out_path))


def stream_bm25_index_add(df: DataFrame, index_path: str,
                          checkpoint: str | None = None
                          ) -> StreamingQuery:
    """Continuously maintained BM25 inverted index: each micro-batch
    of (id, text) documents tokenizes into pb-partitioned postings
    committed under `<index>/postings_stream/batch-<id>/` — the
    exactly-once per-batch-overwrite layout of the dedup legs. The
    index stays SERVABLE and EXACT throughout: bm25_index_topk
    merges committed batches (their pb layout keeps partition
    pruning), corrects n_docs/avgdl from each batch's _delta.json
    sidecar, and recomputes df from the pruned scan (the defer-mode
    contract — token-hash colocation makes that exact);
    `quality.bm25_index_compact` periodically folds the batches into
    the main postings and advances `stream_fold_watermark`, after
    which a replayed already-folded batch SKIPS instead of
    double-appending (compact_dedup_index's protocol).

    Exactly-once: replay of an uncommitted batch overwrites its own
    dir (never appends beside a half-write; the _delta.json sidecar
    is written after the parquet, so a dir without it is invisible
    to serve/compact); replay of a committed-and-folded batch is
    fenced by the watermark; the path lock serializes micro-batches
    against a concurrent compact/rescore-add renaming the index.

    The smallness contract is per-batch (a micro-batch's tokens),
    never per-corpus — this is the lexical mirror of the IVF
    index's continuous-ingestion path."""
    import os

    from sybil_spark.operators.quality import (_bm25_compact_locked,
                                               _bm25_meta,
                                               _bm25_pending_state,
                                               _bm25_tf)
    from sybil_spark.sources import ingest

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        meta = _bm25_meta(index_path)
        if batch_id <= int(meta.get("stream_fold_watermark", -1)):
            return   # committed AND folded before an unclean stop
        bdir = os.path.join(index_path, "postings_stream",
                            f"batch-{batch_id}")
        if os.path.exists(os.path.join(bdir, "_delta.json")):
            # committed but the checkpoint never advanced:
            # tokenization is deterministic, so the dir already
            # holds this replay's exact content — skip rather
            # than rewrite a committed dir under a serve
            return
        tf = (_bm25_tf(batch_df, meta["id_col"],
                       meta["text_col"])
              .localCheckpoint())   # one snapshot, three uses
        dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
        stats = dl.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("dl").alias("s")).collect()[0]
        if not stats["n"]:
            return   # no tokenizable docs in the batch
        bdf = tf.groupBy("tok").agg(
            F.count(F.lit(1)).alias("df_t"))
        rows = (tf.join(dl, "doc").join(bdf, "tok")
                  .withColumn("pb", F.pmod(F.xxhash64("tok"),
                                           F.lit(meta["nbuckets"]))))
        (rows.write.partitionBy("pb").mode("overwrite")
             .parquet(bdir))
        # sidecar LAST: its presence is the commit marker that
        # makes the batch visible to serve/compact
        commit.write_json(os.path.join(bdir, "_delta.json"),
                          {"n": int(stats["n"]), "s": int(stats["s"])})
        if len(_bm25_pending_state(index_path)[0]) \
                > ingest.FILE_DIGEST_THRESHOLD:
            _bm25_compact_locked(batch_df.sparkSession, index_path)

    return _foreach_batch(df, checkpoint or index_path + "_checkpoint",
                          write_batch, lock_path=index_path)


def stream_ivfpq_index_add(df: DataFrame, index_path: str,
                           checkpoint: str | None = None
                           ) -> StreamingQuery:
    """Continuously maintained IVF-PQ vector index — the embedding
    mirror of stream_bm25_index_add: each micro-batch of
    (id, vector) rows is assigned against the FROZEN coarse
    centroids, encoded with the FROZEN codebooks, and committed
    under `<index>/codes_stream/batch-<id>/` partitioned by
    `cluster` (probe pruning applies to pending batches too). The
    index is servable and exact throughout: PQ distances carry no
    corpus-global state, so ivfpq_index_topk just unions committed
    batches; `similarity.ivfpq_index_compact` folds them into the
    base codes behind a staged swap and advances the fold
    watermark.

    Exactly-once: replay of an uncommitted batch overwrites its own
    dir; the `_count.json` sidecar is written last (a dir without
    it is invisible); a replayed already-folded batch is fenced by
    `stream_fold_watermark`; the path lock serializes batches
    against a concurrent compact/rebuild. Frozen-quantizer drift is
    the documented trade (ivfpq_index_add) — re-train via
    build_ivfpq_index when recall decays."""
    import os

    from pyspark.sql import Observation

    from sybil_spark.operators.similarity import (_ivfpq_compact_locked,
                                                  _ivfpq_stream_batches,
                                                  ivf_assign, pq_encode)
    from sybil_spark.sources import ingest

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        meta = commit.read_json(os.path.join(index_path,
                                             "ivfpq_meta.json"))
        if batch_id <= int(meta.get("stream_fold_watermark", -1)):
            return   # committed AND folded before an unclean stop
        bdir = os.path.join(index_path, "codes_stream",
                            f"batch-{batch_id}")
        if os.path.exists(os.path.join(bdir, "_count.json")):
            # committed but the checkpoint never advanced: the
            # encode is deterministic under the frozen
            # quantizers, so the dir already holds exactly what
            # this replay would write — skipping (instead of
            # mode-overwrite rewriting) means a committed batch
            # is NEVER rewritten in place, closing the window
            # where a concurrent serve saw its files vanish
            return
        enc = pq_encode(
            ivf_assign(batch_df, meta["vec_col"],
                       meta["centroids"]),
            meta["vec_col"], meta["codebooks"])
        obs = Observation()
        out = (enc.select(meta["id_col"], "pq_code", "cluster")
                  .observe(obs, F.count(F.lit(1)).alias("n")))
        (out.write.partitionBy("cluster").mode("overwrite")
            .parquet(bdir))
        n = int(obs.get["n"])
        commit.write_json(os.path.join(bdir, "_count.json"), {"n": n})
        if len(_ivfpq_stream_batches(index_path)) \
                > ingest.FILE_DIGEST_THRESHOLD:
            _ivfpq_compact_locked(batch_df.sparkSession, index_path)

    return _foreach_batch(df, checkpoint or index_path + "_checkpoint",
                          write_batch, lock_path=index_path)


def stream_quality_filter(df: DataFrame, id_col: str, out_path: str,
                          rules: dict, audit_path: str | None = None,
                          checkpoint: str | None = None
                          ) -> StreamingQuery:
    """Continuous quality filtering — the curation leg between raw
    ingest and the dedup/index legs, so the full pipeline (ingest →
    FILTER → dedup → index) runs as Structured Streaming end to end.

    `rules` maps rule name → boolean Column over the batch's rows
    (True = this rule keeps the row): compose them from the batch
    operators — quality.blocklist_hits/phrase_blocklist_hits == 0,
    gopher_rules' flags, token_count bounds, classify.quality-score
    thresholds. A row survives iff EVERY rule passes. Because the
    rules are pure per-row column expressions (no corpus state),
    each micro-batch is one deterministic map; exactly-once under
    replay is therefore the plain batch-dir overwrite contract
    (`_write_out_batch` — a replay recomputes the identical
    survivors into its own `batch-<id>` dir, never a second
    delivery). No lock, no index, no watermark needed — the
    stateless leg is deliberately the simplest of the family.

    `audit_path` (optional) additionally commits ONE summary row per
    micro-batch — (batch_id, n_in, n_kept, fail_<rule>...) — under
    the same per-batch-dir layout: the drop-funnel a corpus owner
    reads to see WHICH rule is erasing mass (the per-language
    blocklist_stats lesson, continuously). Counting every rule's
    failures costs one aggregation over flags the filter already
    computed; fail counts OVERLAP when a row fails several rules
    (each rule reports its own count). Read either output with
    read_stream_output."""
    names = list(rules)
    flag_cols = [F.coalesce(rules[n].cast("boolean"), F.lit(False))
                 .alias(f"__r_{i}") for i, n in enumerate(names)]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        flagged = batch_df.select("*", *flag_cols)
        keep = F.lit(True)
        for i in range(len(names)):
            keep = keep & F.col(f"__r_{i}")
        flagged = flagged.localCheckpoint()  # one snapshot, two uses
        kept = flagged.where(keep).drop(
            *[f"__r_{i}" for i in range(len(names))])
        _write_out_batch(kept, out_path, batch_id)
        if audit_path is not None:
            aggs = [F.count(F.lit(1)).alias("n_in"),
                    F.sum(keep.cast("long")).alias("n_kept")]
            for i, n in enumerate(names):
                aggs.append(F.sum((~F.col(f"__r_{i}")).cast("long"))
                            .alias(f"fail_{n}"))
            audit = flagged.agg(*aggs) \
                .withColumn("batch_id", F.lit(int(batch_id)))
            _write_out_batch(audit, audit_path, batch_id)

    return _foreach_batch(df, checkpoint or out_path + "_checkpoint",
                          write_batch)
