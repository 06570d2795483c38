"""Storage lifecycle jobs: digest (row-log → blocks), trim, rebuild.

Digest (reference `sybil digest`, src/lib/table_ingest.go:287-331,
src/lib/table_io.go:80-130): replay the ingest log, sort by time,
write fixed-size column blocks, then clear the log. Spark mapping:
read TABLE/ingest/, `repartitionByRange(time)` +
`sortWithinPartitions` (cluster-wide time ordering AND in-file
ordering so parquet row-group stats give tight zone maps),
`maxRecordsPerFile` ≈ the reference's 65,536-row CHUNK_SIZE, append
to TABLE/blocks/, atomically swap the log out.

At 100 TB: digest is an incremental job over only the landing files;
range partitioning by time keeps blocks time-local so time-filtered
queries prune files via footer stats (the reference's
ShouldLoadBlockFromDir zone-map skip, table_block_io.go:110-182 —
free in parquet).

Trim (reference `sybil trim`, src/lib/table_trim.go:12-58): delete
blocks wholly older than a cutoff or beyond a size budget, decided
on per-file footer stats only — never a data scan.

Concurrency contract (reference locks per table,
src/lib/table_lock.go; tests pin block-changed-under-query safety,
src/lib/table_query_test.go:11-158): lifecycle WRITERS serialize on
the per-table lock (sources/locks.table_lock — pid-stamped lock dir
with stale takeover, the reference's Grab/Release/Recover protocol),
so concurrent `digest`/`compact`/`trim` CLI processes queue instead
of racing on the same staging renames — the reference's shell
stress (scripts/stress_ingest_digest.sh) is replayed in
tests/test_locks.py. Readers planned BEFORE a digest hold the old file
list — Spark resolves files at planning time — so a concurrent
digest can fail those in-flight tasks with a missing-file error;
re-planning (re-calling Table.read) always sees a consistent
snapshot because every move goes through a staged dir + atomic
renames. At real scale, a table format (Delta/Iceberg) supplies the
snapshot isolation this file layout approximates.
"""

from __future__ import annotations

import os
import shutil
import time as _time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sybil_spark.sources.locks import table_lock
from sybil_spark.table import CHUNK_SIZE, Table


def digest(spark: SparkSession, table: Table,
           time_col: str | None = None,
           chunk_size: int = CHUNK_SIZE,
           day_partitions: bool = False,
           skip_outliers: bool = True,
           cluster_cols: list[str] | None = None) -> int:
    """Compact the row log into time-sorted blocks. Returns rows
    digested (0 = nothing to do).

    Blocks are zstd: at 100 TB the scan is IO-bound and zstd
    reads ~30-40% fewer bytes than snappy for ~equal decode cost on
    modern cores (the reference gzips whole column files for the same
    reason, src/lib/file_decoder.go:10-53). The landing log stays
    snappy — it is written once, read once, and latency-sensitive.

    `day_partitions=True` is the 100 TB layout: blocks land under
    day=YYYY-MM-DD directories derived from the time column, so
    time-range queries prune whole directories before reading a byte
    (PartitionFilters) and trim degenerates to partition drops. Off
    by default to keep small tables flat.

    `cluster_cols` (2-3 numeric columns) switches the block layout
    from time-sorted to Z-ORDERED (functions/zorder.py): blocks are
    range-partitioned and sorted by the Morton interleave of the
    named columns, so parquet footer min/max prunes files for
    filters on ANY clustered column instead of only the time column.
    Bounds cost one extra agg over the (threshold-bounded) staged
    log. STICKY: the spec persists in TableMeta.cluster_cols and
    later digests/compactions keep the layout without re-passing the
    flag. Incompatible with `day_partitions` (the z-key scatters
    days across every range partition — tiny-file explosion), and
    time-based trim retention matches nothing on z-ordered blocks
    (see trim). Off by default: the reference layout is
    time-sorted.

    Serializes on the per-table lifecycle lock — two digest
    processes on one table queue instead of racing the staging
    renames (reference GrabDigestLock, src/lib/table_lock.go)."""
    with table_lock(table):
        return _digest(spark, table, time_col, chunk_size,
                       day_partitions, skip_outliers, cluster_cols)


def _digest(spark: SparkSession, table: Table,
            time_col: str | None = None,
            chunk_size: int = CHUNK_SIZE,
            day_partitions: bool = False,
            skip_outliers: bool = True,
            cluster_cols: list[str] | None = None) -> int:
    """digest body — caller holds the table lock."""
    recover_stages(table)
    if not os.path.exists(table.ingest_path):
        return 0
    meta = table.load_meta()
    time_col = time_col or meta.time_col
    # A clustered table STAYS clustered: the layout is table state
    # (TableMeta.cluster_cols), not a per-call flag, so auto-digests
    # and compactions that never heard of -cluster keep the layout
    # instead of silently eroding it back to time-sorted.
    cluster_cols = cluster_cols or meta.cluster_cols
    if cluster_cols:
        cluster_cols = [c.strip() for c in cluster_cols if c.strip()]
        if day_partitions:
            raise ValueError(
                "cluster_cols + day_partitions is not supported: the "
                "z-key scatters days uniformly across every range "
                "partition, so partitionBy('day') would explode into "
                "npart x ndays tiny files")
        # Validate BEFORE staging the log away: a failure after the
        # move would leave rows dark (in neither ingest/ nor blocks/)
        # until a later recovery pass.
        probe = spark.read.option("mergeSchema", "true") \
                     .parquet(table.ingest_path)
        ptypes = dict(probe.dtypes)
        numeric = ("bigint", "int", "smallint", "tinyint",
                   "double", "float", "decimal")
        for c in cluster_cols:
            if c not in ptypes:
                raise ValueError(f"cluster column {c!r} not in the "
                                 f"ingest log ({sorted(ptypes)})")
            if not ptypes[c].startswith(numeric):
                raise ValueError(f"cluster column {c!r} is "
                                 f"{ptypes[c]}; z-ordering needs a "
                                 "numeric column")

    # Stage the log away first (the reference moves files into a
    # `stomache` dir, table_ingest.go:106-161) so concurrent ingests
    # appending new files are not lost by the final cleanup. The
    # `-d-` marks a digest-origin stage: its rows were never counted
    # into the stats registry (vs `-c-` compact-origin stages, whose
    # rows were counted by their original digest).
    stage = os.path.join(table.path, f"stomache-d-{uuid.uuid4().hex[:8]}")
    os.makedirs(stage)
    moved = False
    for f in os.listdir(table.ingest_path):
        p = os.path.join(table.ingest_path, f)
        if f.startswith(("_", ".")):
            # committer markers / checksums / the streaming sink's
            # _spark_metadata log — all refer to files this digest is
            # about to move away, so they must not outlive them. (A
            # crash-replayed streaming micro-batch could re-append its
            # files after this wipe — documented at-least-once edge.)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            continue
        os.rename(p, os.path.join(stage, f))
        moved = True
    if not moved:
        shutil.rmtree(stage)
        return 0

    n = _write_blocks(spark.read.option("mergeSchema", "true")
                      .parquet(stage), table.blocks_path, chunk_size,
                      time_col, cluster_cols, day_partitions)
    # stats read the staged files again — must run before the
    # cleanup. Files recovered from a COMPACT-origin crash were
    # already counted into the registry by their original digest
    # (recover_stages names them recovered-counted-*) — excluding
    # them keeps int_info counts/top-values from double-counting.
    fresh = [os.path.join(stage, f) for f in os.listdir(stage)
             if not f.startswith(("_", "."))
             and "recovered-counted-" not in f]
    if fresh:
        _update_int_info(
            meta,
            spark.read.option("mergeSchema", "true").parquet(*fresh),
            skip_outliers)
    shutil.rmtree(stage)

    meta.updated_at = _time.time()
    if cluster_cols:
        meta.cluster_cols = list(cluster_cols)
    table.save_meta(meta)
    return n


def _write_blocks(df, blocks_path: str, chunk_size: int,
                  time_col: str | None, cluster_cols: list[str] | None,
                  day_partitions: bool = False) -> int:
    """The one block layout digest and compact_blocks share: z-order
    on `cluster_cols` when given, else range-partition and sort by
    `time_col` when present, else round-robin — then append
    `chunk_size`-row zstd files to `blocks_path` (under day=
    dirs with `day_partitions`). Returns rows written."""
    n = df.count()
    npart = max(1, -(-n // chunk_size))
    if cluster_cols:
        from sybil_spark.functions.zorder import zorder_key
        # one extra agg over the staged rows for exact bounds — the
        # input is bounded small by the auto-digest thresholds (256
        # files / 2 MB), so this is noise next to the write; the
        # registry's outlier-suppressed min/max would mis-scale the
        # very values an outlier-heavy digest most needs spread out
        stats = df.agg(*[f for c in cluster_cols
                         for f in (F.min(c).alias(f"lo_{c}"),
                                   F.max(c).alias(f"hi_{c}"))]).first()
        zk = zorder_key([(F.col(c),
                          float(stats[f"lo_{c}"] or 0),
                          float(stats[f"hi_{c}"] or 0))
                         for c in cluster_cols])
        df = (df.withColumn("__zk", zk)
                .repartitionByRange(npart, F.col("__zk"))
                .sortWithinPartitions("__zk")
                .drop("__zk"))
    elif time_col and time_col in df.columns:
        df = (df.repartitionByRange(npart, F.col(time_col))
                .sortWithinPartitions(time_col))
    else:
        df = df.repartition(npart)
    day = day_partitions and time_col and time_col in df.columns
    if day:
        df = df.withColumn("day", F.to_date(F.timestamp_seconds(
            F.col(time_col).cast("long"))))
    w = (df.write.mode("append")
           .option("maxRecordsPerFile", chunk_size)
           .option("compression", "zstd"))
    (w.partitionBy("day") if day else w).parquet(blocks_path)
    return n


#: outlier suppression for registry min/max, matching the reference
#: (src/lib/table_column_info.go:71-73): values more than STD_CUTOFF
#: standard deviations from the mean are ignored when updating
#: min/max (unless skip_outliers=False), and no suppression happens
#: until MIN_CUTOFF values have been seen.
STD_CUTOFF = 1000.0
MIN_CUTOFF = 5


def _update_int_info(meta, df, skip_outliers: bool = True) -> None:
    """Merge this batch's column stats into the table-level registry
    (reference IntInfo/StrInfo zone maps,
    src/lib/table_column_info.go:13-59) — ONE aggregate over the
    batch already being digested. Numeric columns get min/max/count
    plus mergeable sum/sumsq (feeds the sybil-compat histogram bucket
    width, Query.hist from_registry — the reference derives it from
    table-lifetime min/max, hist_basic.go:87-91); string columns get
    an approximate batch cardinality (the StrInfo.Cardinality analog).
    Batch cardinalities are max-merged: a lower bound on lifetime
    cardinality without persisting sketches.

    With `skip_outliers` (the default, like the reference's
    -skip-outliers), a batch extreme further than STD_CUTOFF spreads
    from the batch center does NOT widen the registry min/max
    (reference update_int_info, table_column_info.go:75-131) — one
    junk 10⁹ value must not inflate every future registry-derived
    histogram's bucket width. The reference's online algorithm
    excludes ignored values from its running moments; the batch
    equivalent of that self-protection is a ROBUST spread estimate —
    median/IQR from percentile_approx (σ ≈ IQR/1.349), which a few
    outliers cannot contaminate the way sum/sumsq moments can. The
    common case costs nothing: the suppressed re-aggregate runs only
    when the batch extremes actually breach the cutoff."""
    num_cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString() in ("bigint", "double", "int")]
    str_cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString() == "string"]
    if not num_cols and not str_cols:
        return
    aggs = []
    for c in num_cols:
        aggs += [F.min(c).alias(f"{c}__mn"), F.max(c).alias(f"{c}__mx"),
                 F.count(c).alias(f"{c}__n"),
                 F.percentile_approx(F.col(c).cast("double"),
                                     F.array(F.lit(0.25), F.lit(0.5),
                                             F.lit(0.75)))
                  .alias(f"{c}__q")]
    for c in str_cols:
        aggs += [F.approx_count_distinct(c).alias(f"{c}__card"),
                 F.count(c).alias(f"{c}__n")]
    row = df.agg(*aggs).collect()[0]
    batch = {}    # col -> (batch_min, batch_max, batch_count)
    refine = {}   # col -> (lo, hi) bounds for the suppressed re-agg
    for c in num_cols:
        mn, mx, cnt = row[f"{c}__mn"], row[f"{c}__mx"], row[f"{c}__n"]
        if mn is None:
            continue
        prev = meta.int_info.get(c, {})
        n = prev.get("count", 0) + cnt
        batch[c] = (mn, mx, cnt)
        if skip_outliers and n > MIN_CUTOFF:
            q1, med, q3 = row[f"{c}__q"]
            std = (q3 - q1) / 1.349
            if std <= 1.0:
                # assume large stddev early on (reference
                # table_column_info.go:86-89)
                std = max(med, 1.0)
            lo, hi = med - STD_CUTOFF * std, med + STD_CUTOFF * std
            if mn < lo or mx > hi:
                refine[c] = (lo, hi)
    if refine:
        # second (rare) pass: batch min/max over in-cutoff values
        # only; a None result (whole batch out of cutoff) keeps the
        # previous registry value untouched
        raggs = []
        for c, (lo, hi) in refine.items():
            inb = F.when((F.col(c) >= lo) & (F.col(c) <= hi), F.col(c))
            raggs += [F.min(inb).alias(f"{c}__mn"),
                      F.max(inb).alias(f"{c}__mx")]
        rrow = df.agg(*raggs).collect()[0]
        for c in refine:
            batch[c] = (rrow[f"{c}__mn"], rrow[f"{c}__mx"], batch[c][2])
    for c, (mn, mx, cnt) in batch.items():
        prev = meta.int_info.get(c, {})
        pmn, pmx = prev.get("min"), prev.get("max")
        meta.int_info[c] = {
            "min": pmn if mn is None else (mn if pmn is None
                                           else min(pmn, mn)),
            "max": pmx if mx is None else (mx if pmx is None
                                           else max(pmx, mx)),
            "count": prev.get("count", 0) + cnt,
        }
    top_k = _top_string_values(df, str_cols) if str_cols else {}
    for c in str_cols:
        prev = meta.int_info.get(c, {})
        # merge batch top-K into lifetime top-K (reference
        # StrInfo.TopStringCount, table_column_info.go:42-69): sum
        # counts for values seen in both, keep the TOP_STRINGS
        # heaviest. Lossy in the usual heavy-hitters way — a value
        # must crack a batch's top-K to accumulate — which matches
        # the reference's eviction behavior.
        merged = dict(prev.get("top_values", {}))
        for v, n in top_k.get(c, {}).items():
            merged[v] = merged.get(v, 0) + n
        merged = dict(sorted(merged.items(),
                             key=lambda kv: (-kv[1], kv[0]))[:TOP_STRINGS])
        meta.int_info[c] = {
            "cardinality": max(prev.get("cardinality", 0), row[f"{c}__card"]),
            "count": prev.get("count", 0) + row[f"{c}__n"],
            "top_values": merged,
        }


#: top string values tracked per column (reference keeps the top ~20,
#: src/lib/table_column_info.go:42-59)
TOP_STRINGS = 20


def _top_string_values(df, str_cols) -> dict[str, dict[str, int]]:
    """Per string column, the TOP_STRINGS most frequent values with
    counts — ONE job for all columns: unpivot to (col, value) pairs,
    grouped count, rank-window top-K per column. Only
    len(str_cols)×TOP_STRINGS rows ever reach the driver."""
    from pyspark.sql import Window

    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
        for c in str_cols])).alias("p")).select("p.c", "p.v") \
        .where(F.col("v").isNotNull())
    counts = pairs.groupBy("c", "v").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("c").orderBy(F.desc("n"), F.asc("v"))
    top = (counts.withColumn("rk", F.row_number().over(w))
                 .where(F.col("rk") <= TOP_STRINGS).collect())
    out: dict[str, dict[str, int]] = {}
    for r in top:
        out.setdefault(r["c"], {})[r["v"]] = r["n"]
    return out


def _file_time_stats(path: str, time_col: str) -> tuple[int | None, int | None]:
    """(min, max) of the time column from the parquet footer only."""
    import pyarrow.parquet as pq
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None, None
    idx = None
    for i in range(md.num_columns if md.num_row_groups else 0):
        if md.row_group(0).column(i).path_in_schema == time_col:
            idx = i
            break
    if idx is None:
        return None, None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    return mn, mx


def compact_blocks(spark: SparkSession, table: Table,
                   time_col: str | None = None,
                   chunk_size: int = CHUNK_SIZE) -> int:
    """Rewrite undersized blocks into full ones (the reference tops up
    the last partial block on every digest — FillPartialBlock,
    src/lib/table_block_io.go:48-107; here it is a periodic job so
    digest stays append-only and cheap).

    Files with fewer than half of `chunk_size` rows (parquet
    footer metadata only — no scan) are staged out of the block dir,
    re-read, re-sorted by time, and rewritten as full chunks. Single
    writer assumed, like every lifecycle job here (the reference
    serializes with lock files, src/lib/table_lock.go). Crash safety
    mirrors the reference's stomache protocol: smalls move to a stage
    dir first, so a crash loses nothing — the stage dir is re-read by
    the next compaction (or digest recovery), never half-deleted in
    place. Serializes on the per-table lifecycle lock with digest/
    trim. Returns rows rewritten."""
    with table_lock(table):
        return _compact_blocks(spark, table, time_col, chunk_size)


def _compact_blocks(spark: SparkSession, table: Table,
                    time_col: str | None = None,
                    chunk_size: int = CHUNK_SIZE) -> int:
    """compact_blocks body — caller holds the table lock."""
    import pyarrow.parquet as pq
    if recover_stages(table):
        # adopted files sit in the ingest log; digest them NOW so
        # rows that were queryable before the crash are queryable
        # again after this pass (not only after some future digest)
        _digest(spark, table, time_col=time_col, chunk_size=chunk_size)
    if not os.path.exists(table.blocks_path):
        return 0
    meta = table.load_meta()
    time_col = time_col or meta.time_col
    smalls = []
    for f in sorted(os.listdir(table.blocks_path)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(table.blocks_path, f)
        try:
            nrows = pq.ParquetFile(p).metadata.num_rows
        except Exception:
            continue
        if nrows < chunk_size * 0.5:
            smalls.append(p)
    if len(smalls) < 2:
        return 0
    # `-c-`: compact-origin stage — these rows were already counted
    # into the stats registry by their original digest, so a crash
    # recovery must not re-count them (see recover_stages)
    stage = os.path.join(table.path, f"stomache-c-{uuid.uuid4().hex[:8]}")
    os.makedirs(stage)
    for p in smalls:
        os.rename(p, os.path.join(stage, os.path.basename(p)))
    df = spark.read.option("mergeSchema", "true").parquet(stage)
    # a z-ordered table stays z-ordered through compaction —
    # rewriting smalls time-sorted would erode the layout
    n = _write_blocks(df, table.blocks_path, chunk_size, time_col,
                      [c for c in (meta.cluster_cols or [])
                       if c in df.columns])
    shutil.rmtree(stage)
    # the smalls' cache entries (if any) point at removed files —
    # GC them now so the cache dir never accumulates dead partials
    from sybil_spark.sources.query_cache import _vacuum
    _vacuum(table)
    meta.updated_at = _time.time()
    table.save_meta(meta)
    return n


def recover_stages(table: Table) -> int:
    """Adopt files stranded in stomache-* staging dirs by a crashed
    digest/compact_blocks back into the ingest log (the reference
    re-reads leftover stomache dirs the same way,
    src/lib/table_ingest.go:106-161). Runs at the start of every
    digest/compaction, so one lifecycle pass after a crash restores
    the rows: digest stages them straight back into blocks;
    compact_blocks triggers an immediate digest for the same effect.

    Files from a compact-origin stage (`stomache-c-*`) are renamed
    `recovered-counted-*`: their rows were already counted into the
    stats registry by their original digest, and the re-digest skips
    them when updating int_info — counts and top-values stay exact.

    Semantics are AT-LEAST-ONCE: a crash in the narrow window after
    the block write succeeded but before the stage dir was removed
    re-ingests rows that already landed (the reference's protocol
    has the same window). Single lifecycle writer assumed, like
    every job here (the reference serializes with pid lock files,
    table_lock.go); defensively, a stage dir is only removed once
    empty — a file that appears after the adoption loop (a live
    writer racing this recovery, against the contract) is left in
    place for the next pass rather than deleted."""
    if not os.path.isdir(table.path):
        return 0
    n = 0
    for d in sorted(os.listdir(table.path)):
        if not d.startswith("stomache-"):
            continue
        sdir = os.path.join(table.path, d)
        if not os.path.isdir(sdir):
            continue
        counted = d.startswith("stomache-c-")
        prefix = "recovered-counted-" if counted else "recovered-"
        os.makedirs(table.ingest_path, exist_ok=True)
        for f in sorted(os.listdir(sdir)):
            src = os.path.join(sdir, f)
            if f.startswith(("_", ".")):
                # committer markers etc. — not data; drop so they
                # can't hold the dir non-empty forever
                shutil.rmtree(src) if os.path.isdir(src) \
                    else os.remove(src)
                continue
            if not os.path.isfile(src):
                continue
            dst = os.path.join(table.ingest_path, f"{prefix}{d[9:]}-{f}")
            if not os.path.exists(dst):
                os.rename(src, dst)
                n += 1
        try:
            os.rmdir(sdir)  # only when empty — see docstring
        except OSError:
            pass
    return n


def trim(table: Table, time_col: str | None = None,
         before: int | None = None, size_budget_mb: int | None = None,
         delete: bool = False) -> list[str]:
    """List (and optionally delete) blocks past a retention boundary
    (reference src/cmd/cmd_trim.go:31-97).

    A block is trimmed when its footer max(time) < `before`, or —
    newest-first by max(time) — once cumulative size exceeds
    `size_budget_mb`. Only footer metadata is read.

    Z-ordered tables (TableMeta.cluster_cols): every block spans
    ~the full time range by construction, so time-based `before`
    retention matches nothing — use `size_budget_mb` (footer sizes
    are layout-independent) or re-digest time-sorted first.

    `delete=True` serializes on the per-table lifecycle lock
    (deleting under a live digest/compaction would remove blocks
    mid-rewrite); the list-only mode stays lock-free like queries."""
    if delete:
        with table_lock(table):
            return _trim(table, time_col, before, size_budget_mb, True)
    return _trim(table, time_col, before, size_budget_mb, False)


def _trim(table: Table, time_col: str | None = None,
          before: int | None = None, size_budget_mb: int | None = None,
          delete: bool = False) -> list[str]:
    """trim body — delete mode caller holds the table lock."""
    if not os.path.exists(table.blocks_path):
        return []
    time_col = time_col or table.load_meta().time_col
    files = []
    # walk: flat tables keep *.parquet at the top level; the
    # day-partitioned layout nests them under day=YYYY-MM-DD dirs
    for root, _dirs, names in os.walk(table.blocks_path):
        for f in sorted(names):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            mn, mx = (_file_time_stats(p, time_col)
                      if time_col else (None, None))
            files.append((p, os.path.getsize(p), mx))

    doomed = []
    if before is not None:
        doomed += [p for p, _sz, mx in files if mx is not None and mx < before]
    if size_budget_mb is not None:
        budget = size_budget_mb * (1 << 20)
        used = 0
        # newest first; unknown-time blocks are kept (conservative)
        for p, sz, mx in sorted(files, key=lambda t: (t[2] is None,
                                                      -(t[2] or 0))):
            used += sz
            if used > budget and mx is not None and p not in doomed:
                doomed.append(p)
    if delete:
        for p in doomed:
            os.remove(p)
        # drop emptied day= partition dirs so scans never list them
        for root, dirs, names in list(os.walk(table.blocks_path,
                                              topdown=False)):
            if root != table.blocks_path and not dirs and not names:
                os.rmdir(root)
        # GC query-cache partials of the trimmed blocks
        from sybil_spark.sources.query_cache import _vacuum
        _vacuum(table)
    return doomed


def rebuild_meta(spark: SparkSession, table: Table) -> "TableMeta":
    """Reconstruct meta.json from the data files (reference
    `sybil rebuild`, src/cmd/cmd_rebuild.go:7-43) — schema from
    parquet footers, row count from a metadata-only count. Holds
    the per-table lock: the meta save must not interleave with a
    digest's own meta read-modify-write (lost update)."""
    from sybil_spark.sources.ingest import _SPARK_TO_SYBIL
    from sybil_spark.table import TableMeta

    with table_lock(table):
        df = table.read(spark, read_log=True)
        meta = TableMeta(name=table.name)
        for f in df.schema.fields:
            meta.key_types[f.name] = _SPARK_TO_SYBIL.get(
                f.dataType.simpleString(), f.dataType.simpleString())
        meta.row_count = df.count()
        table.save_meta(meta)
        return meta
