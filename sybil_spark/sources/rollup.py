"""Materialized time-bucket rollups — the engine's query cache.

The reference caches per-block query results keyed by a normalized
query hash (reference src/lib/query_cache.go:30-242) and merges
per-node partial results with histogram re-bucketing (reference
src/lib/node_aggregator.go:8-198, src/lib/query_spec.go:118-135).
The Spark-first equivalent of both is one artifact: a pre-aggregated
table at the finest time-bucket granularity holding *mergeable*
partial aggregates —

- count / samples                       (sum-mergeable)
- per-column sum (decimal), min, max,
  non-null count, sum of squares        (sum/min/max-mergeable;
                                         avg & stddev derive exactly)
- fixed-width histogram bucket counts   (map, sum-mergeable;
                                         percentiles derive)
- HLL sketch of the distinct tuple      (hll_union_agg-mergeable;
                                         Apache DataSketches binary)

Any coarser time bucket, any subset of the group columns, and every
reference aggregation (COUNT/AVG/SUM/MIN/MAX/STDDEV/HIST/percentile/
COUNT-DISTINCT) then answers FROM THE ROLLUP — at 100 TB a dashboard
query reads the few-GB rollup instead of re-scanning raw events, and
the rollup is incrementally maintainable per ingest batch because
every column is mergeable (append new partials; serve() re-merges on
read; compact periodically).

Decimal sums make the merge bit-exact: float addition is not
associative, decimal(38,6) is — so a rollup-served AVG equals the
direct-scan AVG bit-for-bit (see Query.exact_mode for the same rule
on the direct path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sybil_spark.functions.exact import DEC as _DEC
from sybil_spark.functions.exact import sum6
from sybil_spark.functions.sqltext import ident
from sybil_spark.sources import commit

#: unit separator — same tuple encoding as the distinct query path
_SEP = "\x1f"


def build_rollup(df: DataFrame, time_col: str | None, bucket_s: int | None,
                 group_cols: list[str], num_cols: list[str],
                 distinct_cols: list[str] | None = None,
                 hist_buckets: dict[str, float] | None = None) -> DataFrame:
    """Aggregate raw rows to one row per (time bucket × group).

    `bucket_s` is the FINEST granularity the rollup can serve; pick
    the dashboard's smallest window (e.g. 60). `hist_buckets` maps a
    column to its fixed histogram bucket width (reference
    `-int-bucket`, src/lib/hist_basic.go:28-45); its counts land in a
    sum-mergeable map<bigint,bigint> via a second aggregate joined on
    the rollup key (_join_on_key). `time_col=None` builds an untimed
    partial (no tbucket column) — the per-block query-cache path for
    queries with no time dimension."""
    # `t - t % bucket` (truncate toward zero), NOT pmod: the Query
    # builder (builder.py _group_cols) and the DuckDB oracles bucket
    # with %, and the rollup path must mirror the direct-scan path
    # bit-for-bit for ALL time values, negatives included
    tkeys = [] if time_col is None else \
        [(F.col(time_col) - F.col(time_col) % F.lit(bucket_s))
         .alias("tbucket")]
    aggs: list[Column] = [F.count(F.lit(1)).alias("samples")]
    for c in num_cols:
        col = F.col(c)
        aggs += [
            sum6(ident(c), df.select(col).schema[0].dataType)
            .alias(f"{c}__sum"),
            F.sum(col.cast(_DEC) * col.cast(_DEC)).alias(f"{c}__sumsq"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.count(col).alias(f"{c}__n"),
        ]
    if distinct_cols:
        aggs.append(F.hll_sketch_agg(
            F.concat_ws(_SEP, *[F.col(c).cast("string")
                                for c in distinct_cols]))
            .alias("distinct__hll"))
    out = df.groupBy(*tkeys, *group_cols).agg(*aggs)
    knames = (["tbucket"] if tkeys else []) + list(group_cols)
    for c, width in (hist_buckets or {}).items():
        hb = F.floor(F.col(c) / F.lit(width)).cast("long")
        hist = (df.where(F.col(c).isNotNull())
                  .groupBy(*tkeys, *group_cols, hb.alias("__hb"))
                  .agg(F.count(F.lit(1)).alias("__hc"))
                  .groupBy(F.struct(*knames).alias("__k"))
                  .agg(F.map_from_entries(
                      F.sort_array(F.collect_list(
                          F.struct(F.col("__hb"), F.col("__hc")))))
                      .alias(f"{c}__hist")))
        out = _join_on_key(out, hist, knames)
    return out


def _join_on_key(out: DataFrame, hist: DataFrame,
                 keys: list[str]) -> DataFrame:
    """Left-join a histogram frame keyed by `__k` = struct(keys) onto
    `out`, appending its columns. Struct equality is null-safe per
    field, so a NULL group value is a real group and keeps its
    histogram; a group with no histogram rows keeps its row with a
    NULL histogram. When the planner does not broadcast `hist`, the
    sort-merge join re-partitions `out` by `__k`: one exchange of the
    finalized rows, the smallest frame of the plan."""
    return (out.withColumn("__k", F.struct(*keys))
               .join(hist, "__k", "left").drop("__k"))


def write_rollup(roll: DataFrame, path: str, mode: str = "overwrite",
                 inc: str = "base") -> None:
    """Persist partitioned by (day, increment) so retention (trim)
    and incremental refresh are partition drops/appends, and
    time-range queries prune partitions before reading a byte. The
    `__inc` level exists so refresh_rollup's increments are
    individually addressable (its exactly-once recovery deletes a
    half-committed increment's dirs); a plain build writes one
    `__inc=base` level — every writer uses the same depth, which
    Spark's partition discovery requires."""
    (roll.withColumn("__day", F.to_date(F.timestamp_seconds("tbucket")))
         .withColumn("__inc", F.lit(inc))
         .write.mode(mode).partitionBy("__day", "__inc").parquet(path))


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("__day", "__inc")


def serve(roll: DataFrame, group_cols: list[str],
          num_cols: list[str] | None = None, bucket_s: int | None = None,
          distinct: bool = False,
          hist_cols: list[str] | None = None) -> DataFrame:
    """Answer a query from the rollup: re-bucket time to any multiple
    of the build granularity, drop any group columns, and finalize
    the mergeable partials (reference CombineResults,
    src/lib/aggregate.go:326-467 — here it is one groupBy).

    Output per group [× tbucket]: count, per-col avg/sum/min/max/
    stddev, [distinct], [per-col hist map] — the full reference
    aggregation surface, without touching raw data."""
    keys = list(group_cols)
    if bucket_s is not None:
        # same %-bucketing as build_rollup / the Query builder
        roll = roll.withColumn(
            "tbucket", F.col("tbucket") - F.col("tbucket") % F.lit(bucket_s))
        keys.insert(0, "tbucket")
    # coalesce: an UNGROUPED serve over zero partial rows (a filter
    # matched nothing anywhere) must answer count=0 like SQL
    # count(*), not NULL (sum of an empty set) — caught by
    # test_cached_equals_direct_fuzz
    aggs: list[Column] = [
        F.coalesce(F.sum("samples"), F.lit(0).cast("long")).alias("count")]
    for c in (num_cols or []):
        s = F.sum(f"{c}__sum")
        ss = F.sum(f"{c}__sumsq")
        n = F.sum(f"{c}__n")
        aggs += [
            # try_divide: a group can hold only-null values (n = 0) —
            # ANSI mode would raise; NULL is the correct answer.
            # Divide in DOUBLE after the exact decimal sum (not in
            # decimal, which rounds at scale 6): this is the same
            # formula every direct-path avg and SQL oracle uses
            # (_dsum(x)/count), so rollup- and cache-served averages
            # are bit-identical to the scan path.
            F.try_divide(s.cast("double"), n).alias(f"avg_{c}"),
            s.cast("double").alias(f"sum_{c}"),
            F.min(f"{c}__min").alias(f"min_{c}"),
            F.max(f"{c}__max").alias(f"max_{c}"),
            # unbiased sample stddev from mergeable moments. The
            # m2 arithmetic runs in DOUBLE: a decimal s*s would
            # overflow decimal(38,6)'s cap once |s| ~ 1e16 (1e9 rows
            # of ~1e7 values — realistic at the 100 TB target),
            # raising under ANSI mode; double trades last-ulp
            # exactness (tests compare stddev at rel 1e-6) for
            # unconditional availability
            F.sqrt(F.try_divide(
                ss.cast("double")
                - F.try_divide(s.cast("double") * s.cast("double"),
                               n.cast("double")),
                (n - 1).cast("double")))
             .alias(f"stddev_{c}"),
        ]
    if distinct:
        aggs.append(F.hll_sketch_estimate(
            F.hll_union_agg("distinct__hll")).alias("distinct"))
    out = roll.groupBy(*keys).agg(*aggs) if keys else roll.agg(*aggs)
    for c in (hist_cols or []):
        merged = _merged_hist(roll, keys, f"{c}__hist", f"hist_{c}")
        out = _join_on_key(out, merged, keys) if keys \
            else out.crossJoin(merged)
    return out


def _merged_hist(roll: DataFrame, keys: list[str], col: str,
                 alias: str) -> DataFrame:
    """Sum map<long,long> histograms across rollup rows per key:
    explode entries → partial-aggregated sum per (keys, bucket) →
    rebuild the sorted map. Linear in total entries and fully
    shuffle-parallel — an in-aggregate array merge is O(buckets²)
    interpreted per group, which matters at NUM_BUCKETS=1000. Grouped
    output is keyed by `__k` = struct(keys), for _join_on_key."""
    e = roll.select(F.struct(*keys).alias("__k"),
                    F.explode(F.map_entries(F.col(col))).alias("e"))
    summed = (e.groupBy("__k", F.col("e.key").alias("__hb"))
               .agg(F.sum("e.value").alias("__hc")))
    maps = F.map_from_entries(F.sort_array(F.collect_list(
        F.struct(F.col("__hb"), F.col("__hc"))))).alias(alias)
    return (summed.groupBy("__k").agg(maps) if keys
            else summed.agg(maps))


def percentiles_from_hist(served: DataFrame, hist_col: str, width: float,
                          ps: list[float]) -> DataFrame:
    """Bucket-quantized percentiles from a served histogram map —
    the reference's piecewise-constant CDF walk (reference
    src/lib/hist_basic.go:153-183) as array expressions: sort the
    (bucket, count) entries, find the first bucket whose running
    cumulative count crosses p·total, return its lower bound."""
    entries = F.array_sort(F.map_entries(F.col(hist_col)))
    total = F.aggregate(entries, F.lit(0).cast("long"),
                        lambda a, e: a + e["value"])
    out = served
    for p in ps:
        target = F.lit(p) * total.cast("double")
        scanned = F.aggregate(
            entries,
            F.struct(F.lit(0).cast("long").alias("cum"),
                     F.lit(None).cast("long").alias("ans")),
            lambda acc, e: F.struct(
                (acc["cum"] + e["value"]).alias("cum"),
                F.when(acc["ans"].isNotNull(), acc["ans"])
                 .when((acc["cum"] + e["value"]).cast("double") >= target,
                       e["key"]).alias("ans")))
        out = out.withColumn(f"p{int(p * 100)}",
                             scanned["ans"].cast("double") * F.lit(width))
    return out


def merge_partials(roll: DataFrame, group_cols: list[str],
                   num_cols: list[str], distinct: bool = False,
                   hist_cols: list[str] | None = None) -> DataFrame:
    """Fold overlapping partial rows to one row per (tbucket, group),
    PRESERVING mergeability (sums stay sums, sketches stay sketches —
    unlike serve(), which finalizes). Used by compact_rollup after
    many incremental appends."""
    aggs: list[Column] = [F.sum("samples").alias("samples")]
    for c in num_cols:
        aggs += [F.sum(f"{c}__sum").alias(f"{c}__sum"),
                 F.sum(f"{c}__sumsq").alias(f"{c}__sumsq"),
                 F.min(f"{c}__min").alias(f"{c}__min"),
                 F.max(f"{c}__max").alias(f"{c}__max"),
                 F.sum(f"{c}__n").alias(f"{c}__n")]
    if distinct:
        aggs.append(F.hll_union_agg("distinct__hll").alias("distinct__hll"))
    keys = ["tbucket", *group_cols]
    out = roll.groupBy(*keys).agg(*aggs)
    for c in (hist_cols or []):
        out = _join_on_key(
            out, _merged_hist(roll, keys, f"{c}__hist", f"{c}__hist"), keys)
    return out


def compact_rollup(spark: SparkSession, path: str, group_cols: list[str],
                   num_cols: list[str], distinct: bool = False,
                   hist_cols: list[str] | None = None) -> int:
    """Rewrite an incrementally-appended rollup dir so each
    (tbucket, group) holds a single partial row again. Staged like
    every lifecycle job (write new, swap dirs) — readers of the old
    path see a consistent snapshot either way. Returns rows after
    compaction.

    Holds the rollup-path lifecycle lock: the swap renames the whole
    dir, so an append landing mid-swap (a live stream_rollup_partials
    micro-batch, a concurrent refresh) would be renamed away and
    lost; writers share the lock and queue instead."""
    from sybil_spark.sources.locks import path_lock
    with path_lock(path):
        return _compact_rollup(spark, path, group_cols, num_cols,
                               distinct, hist_cols)


def _compact_rollup(spark: SparkSession, path: str, group_cols: list[str],
                    num_cols: list[str], distinct: bool = False,
                    hist_cols: list[str] | None = None) -> int:
    """compact_rollup body — caller holds the path lock."""
    import os
    import shutil

    # recover a crashed refresh's UNCOMMITTED pending increment
    # before folding: merging its orphaned __inc partials into
    # __inc=base would make them undeletable, and the increment's
    # blocks would be re-appended by the next refresh (double count)
    _recover_pending(path)
    # recovery may have deleted the only data (a rollup whose whole
    # content was one uncommitted increment) — nothing to fold
    if not any(files for _r, _d, files in os.walk(path)
               if any(f.endswith(".parquet") for f in files)):
        return 0

    merged = merge_partials(read_rollup(spark, path), group_cols,
                            num_cols, distinct, hist_cols)

    def write(tmp: str) -> None:
        write_rollup(merged, tmp)
        # the refresh manifest must survive compaction, or the next
        # refresh_rollup would see an un-manifested dir and
        # re-aggregate every block on top of the folded partials
        if os.path.exists(_manifest_path(path)):
            shutil.copy(_manifest_path(path), _manifest_path(tmp))

    commit.staged_swap(path, write)
    return spark.read.parquet(path).count()


def _recover_pending(path: str) -> None:
    """Delete the partition dirs of a crashed refresh's uncommitted
    increment and clear the pending record (its blocks are still
    absent from the manifest, so the next refresh re-processes them
    exactly once)."""
    import glob
    import os
    import shutil

    manifest_p = _manifest_path(path)
    man = commit.read_json(manifest_p, {})
    if not man.get("pending"):
        return
    inc = man["pending"]["inc"]
    for d in glob.glob(os.path.join(path, "__day=*", f"__inc={inc}")):
        shutil.rmtree(d, ignore_errors=True)
    man["pending"] = None
    commit.write_json(manifest_p, man)


def _manifest_path(path: str) -> str:
    import os
    return os.path.join(path, "_manifest.json")


def refresh_rollup(spark: SparkSession, blocks_root: str, path: str,
                   time_col: str, bucket_s: int,
                   group_cols: list[str], num_cols: list[str],
                   distinct_cols: list[str] | None = None,
                   hist_buckets: dict[str, float] | None = None) -> int:
    """Incrementally maintain a rollup: aggregate ONLY the table's
    blocks that no previous refresh has processed and append their
    partials (everything in the rollup is mergeable, so append IS
    the merge — serve() finalizes across refreshes; run
    compact_rollup periodically to fold the accumulated partials;
    it preserves the manifest).

    Processed blocks are tracked in `<path>/_manifest.json` by
    content-stable block id (sources/query_cache._block_id). This is
    the 100 TB dashboard loop: ingest → digest → refresh_rollup →
    serve, with per-refresh cost proportional to NEW data — except
    after table-block compaction or trim, which REWRITE/REMOVE
    blocks whose old partials can't be subtracted from an
    append-only rollup: refresh detects the vanished block ids and
    falls back to one full rebuild (the rollup mirrors the CURRENT
    table; keep a standalone build for keep-history-past-trim
    dashboards).

    Exactly-once increments: the manifest records a PENDING
    increment id before the append, the appended partials land under
    their own `__inc=<id>` partition dirs, and the manifest commits
    afterwards — a crash at any point leaves either a pending record
    whose partition dirs the next refresh deletes and re-processes,
    or nothing. No crash window double-counts or drops rows.

    Returns the number of blocks (re)processed. Serializes on the
    rollup-path lifecycle lock with compact_rollup and the streaming
    partial writer (the full-rebuild fallback swaps the dir)."""
    from sybil_spark.sources.locks import path_lock
    with path_lock(path):
        return _refresh_rollup(spark, blocks_root, path, time_col,
                               bucket_s, group_cols, num_cols,
                               distinct_cols, hist_buckets)


def _refresh_rollup(spark: SparkSession, blocks_root: str, path: str,
                    time_col: str, bucket_s: int,
                    group_cols: list[str], num_cols: list[str],
                    distinct_cols: list[str] | None = None,
                    hist_buckets: dict[str, float] | None = None) -> int:
    """refresh_rollup body — caller holds the path lock."""
    import os
    import shutil
    import uuid

    from sybil_spark.sources.query_cache import _block_id, _list_blocks

    manifest_p = _manifest_path(path)
    if not os.path.exists(manifest_p) and os.path.isdir(path) and any(
            f.startswith("__day=") for f in os.listdir(path)):
        raise ValueError(
            f"{path} contains rollup data but no refresh manifest "
            "(was it written by rollup-build?); refresh into a new "
            "dir, or rebuild it with rollup-build and keep using "
            "full builds")

    # crash recovery: a pending increment may be absent, partial, or
    # fully written but uncommitted — delete its partition dirs and
    # re-process its blocks (they are still not in the manifest)
    _recover_pending(path)
    man = commit.read_json(manifest_p, {"blocks": [], "pending": None})

    blocks = _list_blocks(blocks_root)
    ids = {_block_id(b): b for b in blocks}
    seen = set(man["blocks"])

    if seen - set(ids):
        # manifested blocks vanished (compaction rewrote them / trim
        # removed them): incremental append can't subtract their old
        # partials — rebuild from the current table, swap atomically
        if not blocks:
            # trim removed EVERYTHING: the rollup mirrors the (now
            # empty) table — drop the partials, keep an empty
            # manifest so the next refresh starts clean
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
            commit.write_json(manifest_p, {"blocks": [], "pending": None})
            return 0
        df = (spark.read.option("mergeSchema", "true")
              .option("basePath", blocks_root).parquet(*blocks))
        roll = build_rollup(df, time_col, bucket_s, group_cols,
                            num_cols, distinct_cols, hist_buckets)

        def write(tmp: str) -> None:
            write_rollup(roll, tmp)
            commit.write_json(_manifest_path(tmp),
                              {"blocks": sorted(ids), "pending": None})

        commit.staged_swap(path, write)
        return len(blocks)

    new = [b for i, b in ids.items() if i not in seen]
    if not new:
        return 0
    inc = uuid.uuid4().hex[:8]
    man["pending"] = {"inc": inc,
                      "ids": sorted(_block_id(b) for b in new)}
    commit.write_json(manifest_p, man)

    # basePath keeps directory-derived partition columns (day=) of
    # the 100 TB layout visible to the aggregation
    df = (spark.read.option("mergeSchema", "true")
          .option("basePath", blocks_root).parquet(*new))
    roll = build_rollup(df, time_col, bucket_s, group_cols, num_cols,
                        distinct_cols, hist_buckets)
    write_rollup(roll, path, mode="append", inc=inc)

    man["blocks"] = sorted(seen | set(man["pending"]["ids"]))
    man["pending"] = None
    commit.write_json(manifest_p, man)
    return len(new)
