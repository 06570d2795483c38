"""Per-block query-result cache — the reference's CACHED_QUERIES
feature (reference src/lib/query_cache.go:30-242), rebuilt Spark-first.

Reference behavior being matched:

- Each block caches its PARTIAL result for a query under
  `block/cache/<key>.db.gz`, where <key> hashes the normalized query
  params MINUS any int gt/lt filter that the block's zone map proves
  true for every row in the block (GetCacheRelevantFilters,
  query_cache.go:69-131). A dashboard's sliding absolute time window
  therefore still HITS on every interior block — only blocks
  straddling the window edge carry the filter in their key and
  recompute as the window moves.
- Only full blocks are cached (SaveCachedResults skips blocks with
  fewer than CHUNK_SIZE records, query_cache.go:185-188): partial
  blocks get rewritten by compaction, so caching them would churn.
- Results merge across blocks exactly like scatter-gather partials
  (node_aggregator.go) — here that role is played by the mergeable
  rollup schema in sources/rollup.py (decimal sums, min/max, moment
  pairs, HLL sketches), so cached and cold answers are bit-identical.

Spark-first shape:

- A "block" is a digested parquet file; its zone map is the parquet
  footer (min/max/null_count per column — read driver-side, no scan).
- The cached partial is one tiny parquet dir per (key × block) under
  `TABLE/cache/<key>/_bid=<block_id>/`, in build_rollup's mergeable
  schema. block_id hashes relpath+size, so a rewritten block is a
  different id and stale entries are never read (vacuum() GCs them).
- A cached run costs: footer reads (driver, metadata-only) + tiny
  parquet reads for every HIT + ONE Spark job over the union of all
  MISSED blocks (grouped by input file) + the rollup merge. At 100 TB
  a repeated dashboard query reads KB of partials instead of
  re-scanning TB of blocks; writes of new partials are distributed
  (partitionBy block id), never driver-side row shuffling.
- Filters that were dropped from a block's key are provably no-ops on
  that block, so the one compute job applies EVERY filter to every
  missed block and still produces reusable partials for the
  fully-covered ones — one job, not one per key-class.

Limits, like the reference: only int/float gt/lt (and ge/le) filters
are droppable via extents; a column with nulls in a block never drops
a filter there (the filter would remove the null rows — the reference
has no such rows because sybil ints are dense-populated or absent).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sybil_spark.query.builder import compile_filters
from sybil_spark.table import CHUNK_SIZE, Table
from sybil_spark.sources import rollup as R

CACHE_DIR = "cache"

#: above this many missed files, the file->block-id mapping becomes a
#: broadcast join instead of an inlined literal map (plan-size bound)
INLINE_MAP_MAX = 200


@dataclass(frozen=True)
class CacheSpec:
    """Normalized query params — the QueryParams struct the reference
    hashes into a cache key (query_cache.go:131-139). Aggregations
    are implied: every spec computes the full mergeable surface
    (count / sum / avg / min / max / stddev [/ distinct / hist]) for
    its num_cols, which serve() finalizes."""
    group_cols: tuple[str, ...] = ()
    num_cols: tuple[str, ...] = ()
    distinct_cols: tuple[str, ...] = ()
    time_col: str | None = None
    bucket_s: int | None = None
    #: (kind, op, col, value) tuples compiled by the query surface's
    #: one filter compiler, builder.compile_filters (kind "int" ops
    #: gt/lt/ge/le/eq/neq; kind "str" ops eq/neq/re/nre). Time
    #: filters arrive already bucket-aligned (Query.filter_specs).
    filters: tuple[tuple[str, str, str, object], ...] = ()
    hist_buckets: tuple[tuple[str, float], ...] = ()

    def key(self, relevant_filters) -> str:
        """Cache key for one block: every param plus only the filters
        NOT proven trivial by that block's footer stats."""
        blob = json.dumps({
            "g": self.group_cols, "n": self.num_cols,
            "d": self.distinct_cols, "t": self.time_col,
            "b": self.bucket_s, "h": self.hist_buckets,
            "f": sorted((k, o, c, repr(v))
                        for k, o, c, v in relevant_filters),
        }, sort_keys=True)
        return hashlib.sha1(blob.encode()).hexdigest()[:16]


@dataclass
class CachePlan:
    """What a run will do — exposed so tests (and curious operators)
    can assert cache behavior: which blocks serve from cache, which
    recompute, which are below the caching threshold."""
    hits: list[str] = field(default_factory=list)
    misses: list[str] = field(default_factory=list)
    uncached: list[str] = field(default_factory=list)  # small blocks
    key_of: dict[str, str] = field(default_factory=dict)
    bid_of: dict[str, str] = field(default_factory=dict)


def _list_blocks(root: str) -> list[str]:
    """All parquet block files under a table's blocks dir (recurses
    into day= partition dirs) — or [root] when root is itself a
    single parquet file."""
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def _block_key(path: str) -> str:
    """parent-dir/basename — unique within one table for both the
    flat layout (unique part-file names) and the day-partitioned
    layout (same basename can recur across day= dirs; the parent
    disambiguates). Deeper partitioning would need the full
    relpath — single-level day= is the only layout digest writes."""
    return os.path.join(os.path.basename(os.path.dirname(path)),
                        os.path.basename(path))


def _block_id(path: str) -> str:
    sz = os.path.getsize(path)
    return hashlib.sha1(f"{_block_key(path)}:{sz}".encode()) \
                  .hexdigest()[:16]


#: per-process footer-stats cache keyed by (path, size): block files
#: are immutable once written (digest renames, never rewrites in
#: place), so a dashboard's repeated queries skip the O(num_blocks)
#: driver-side footer reads — the reference's block-info cache (C2)
#: applied to the query-cache planner.
_FOOTER_CACHE: dict[tuple[str, int], tuple[int, dict]] = {}


def _footer_stats(path: str) -> tuple[int, dict]:
    """(num_rows, {col: (min, max, null_count) | None}) from the
    parquet footer only — the zone-map read (reference
    LoadBlockInfo). Every physical column appears as a key; the
    value is None when any row group lacks min/max stats (such a
    column can never prove a filter trivial)."""
    import pyarrow.parquet as pq
    ck = (path, os.path.getsize(path))
    hit = _FOOTER_CACHE.get(ck)
    if hit is not None:
        return hit
    md = pq.ParquetFile(path).metadata
    cols: dict = {}
    for i in range(md.num_columns if md.num_row_groups else 0):
        name = md.row_group(0).column(i).path_in_schema
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
            nulls += st.null_count or 0
        cols[name] = (mn, mx, nulls) if ok else None
    _FOOTER_CACHE[ck] = (md.num_rows, cols)
    return md.num_rows, cols


def _trivial(flt, stats: dict) -> bool:
    """True iff the filter provably passes EVERY row of the block —
    then it can be dropped from the block's cache key (reference
    GetCacheRelevantFilters: int lt/gt judged against block
    min/max). Requires zero nulls: a null fails the filter but
    survives the unfiltered partial."""
    kind, op, col, value = flt
    if kind != "int" or op not in ("gt", "lt", "ge", "le"):
        return False
    st = stats.get(col)
    if st is None:
        return False
    mn, mx, nulls = st
    if nulls or mn is None:
        return False
    try:
        return {"gt": mn > value, "ge": mn >= value,
                "lt": mx < value, "le": mx <= value}[op]
    except TypeError:  # non-comparable footer type (e.g. str col)
        return False


def plan(blocks: list[str], spec: CacheSpec, cache_root: str,
         cache_min_rows: int = CHUNK_SIZE) -> CachePlan:
    """Classify every block: HIT (partial on disk), MISS (compute +
    persist), UNCACHED (below cache_min_rows — compute, don't
    persist; the reference's partial-block rule)."""
    p = CachePlan()
    for b in blocks:
        nrows, stats = _footer_stats(b)
        relevant = [f for f in spec.filters if not _trivial(f, stats)]
        key = spec.key(tuple(relevant))
        bid = _block_id(b)
        p.key_of[b] = key
        p.bid_of[b] = bid
        if nrows < cache_min_rows:
            p.uncached.append(b)
        elif os.path.isdir(os.path.join(cache_root, key, f"_bid={bid}")):
            p.hits.append(b)
        else:
            p.misses.append(b)
    return p


def run(spark: SparkSession, source: Table | list[str], spec: CacheSpec,
        cache_root: str | None = None,
        cache_min_rows: int = CHUNK_SIZE) -> DataFrame:
    """Answer `spec` using the per-block cache; populate it for
    missed blocks. Output schema = rollup.serve finalization: group
    cols [+ tbucket] + count / avg_c / sum_c / min_c / max_c /
    stddev_c [+ distinct] [+ hist_c] — bit-identical to the direct
    scan because every partial is mergeable-exact (decimal sums)."""
    if isinstance(source, Table):
        blocks = _list_blocks(source.blocks_path)
        cache_root = cache_root or os.path.join(source.path, CACHE_DIR)
    else:
        blocks = [b for p in source for b in _list_blocks(p)]
        if cache_root is None:
            raise ValueError("cache_root is required for a bare file list")
    if not blocks:
        raise FileNotFoundError("no blocks to query")

    pl = plan(blocks, spec, cache_root, cache_min_rows)
    parts: list[DataFrame] = []
    pred = compile_filters(spec.filters)

    def _partial(files: list[str], with_bid: bool) -> DataFrame:
        """Mergeable partial over `files`, optionally grouped by
        block id. Every filter is applied to every scanned block:
        for blocks whose key dropped a filter, the drop was proven
        trivially-true, so applying it is a no-op and the persisted
        partial stays valid for any other value of that filter."""
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        if with_bid:
            df = df.withColumn("_path", F.input_file_name())
        if pred is not None:
            df = df.where(pred)
        if with_bid:
            # parent/basename of the file:// URI -> block id (the
            # same key _block_key uses — basename alone collides
            # across day= partition dirs). Small scans inline a
            # literal map (no join in the plan); big scans
            # broadcast-join a mapping frame — a 100k-entry literal
            # map would bloat the plan tree and codegen.
            segs = F.split("_path", "/")
            base = F.concat_ws("/", F.element_at(segs, -2),
                               F.element_at(segs, -1))
            if len(files) <= INLINE_MAP_MAX:
                bid_map = F.create_map(*[
                    x for b in files
                    for x in (F.lit(_block_key(b)),
                              F.lit(pl.bid_of[b]))])
                df = df.withColumn("_bid", bid_map[base])
            else:
                mapping = spark.createDataFrame(
                    [(_block_key(b), pl.bid_of[b]) for b in files],
                    schema="_base string, _bid string")
                df = df.withColumn("_base", base) \
                       .join(F.broadcast(mapping), "_base").drop("_base")
            df = df.drop("_path")
        gcols = (["_bid"] if with_bid else []) + list(spec.group_cols)
        return R.build_rollup(
            df, spec.time_col, spec.bucket_s, gcols,
            list(spec.num_cols),
            list(spec.distinct_cols) or None,
            dict(spec.hist_buckets) or None)

    # referenced columns must exist in the block files themselves:
    # the cache scans leaf parquet files directly, so directory-
    # derived partition columns (day=) are not visible here — fail
    # loudly up front (callers fall back to the direct path) instead
    # of a mid-job AnalysisException or a silent null group.
    _, cols0 = _footer_stats(blocks[0])
    referenced = set(spec.group_cols) | set(spec.num_cols) \
        | set(spec.distinct_cols) | {c for c, _w in spec.hist_buckets} \
        | {c for _k, _o, c, _v in spec.filters} \
        | ({spec.time_col} if spec.time_col else set())
    missing_cols = referenced - set(cols0)
    if missing_cols:
        raise ValueError(
            f"columns {sorted(missing_cols)} not present in block files "
            "(partition-dir columns are not cacheable); use the direct "
            "query path")

    # 1. cached partials: KB-scale parquet, no raw-block IO. ONE
    # multi-path relation for all hits (they share the spec's partial
    # schema) — a per-dir relation chained through unions would grow
    # the logical plan linearly with block count, the very plan-size
    # hazard INLINE_MAP_MAX bounds on the compute side.
    hit_dirs = [os.path.join(cache_root, pl.key_of[b],
                             f"_bid={pl.bid_of[b]}") for b in pl.hits]
    if hit_dirs:
        parts.append(spark.read.parquet(*hit_dirs))

    # 2. missed blocks: ONE scan per key-class computes + persists
    # the partials (distributed write, one partition dir per block;
    # staged then renamed so a concurrent reader never sees a half-
    # written partial — the reference's tempfile + rename,
    # query_cache.go:229-240); the result then READS BACK the tiny
    # written partials instead of re-scanning the raw blocks when
    # the returned plan executes.
    if pl.misses:
        by_key: dict[str, list[str]] = {}
        for b in pl.misses:
            by_key.setdefault(pl.key_of[b], []).append(b)
        for key, bs in by_key.items():
            partial = _partial(bs, with_bid=True)
            stage = os.path.join(cache_root, f"_stage-{os.getpid()}-{key}")
            partial.write.mode("overwrite").partitionBy("_bid") \
                   .parquet(stage)
            kdir = os.path.join(cache_root, key)
            os.makedirs(kdir, exist_ok=True)
            empties = []
            for b in bs:
                bid = pl.bid_of[b]
                src = os.path.join(stage, f"_bid={bid}")
                dst = os.path.join(kdir, f"_bid={bid}")
                if os.path.isdir(src):
                    if not os.path.exists(dst):
                        os.rename(src, dst)
                else:
                    # the filter emptied this block: an empty
                    # partial is still a (very) valid cached answer
                    # — persist a schema-only parquet so the block
                    # HITS next run instead of re-scanning forever
                    # (the reference caches empty QueryResults too)
                    empties.append(dst)
            shutil.rmtree(stage, ignore_errors=True)
            if empties:
                empty = spark.createDataFrame(
                    [], schema=partial.drop("_bid").schema).coalesce(1)
                for dst in empties:
                    if not os.path.exists(dst):
                        empty.write.mode("overwrite").parquet(dst)
            parts.append(spark.read.parquet(*[
                os.path.join(kdir, f"_bid={pl.bid_of[b]}") for b in bs]))

    # 3. below-threshold blocks: computed live, never persisted
    # (reference partial-block rule) — one scan at result time
    if pl.uncached:
        parts.append(_partial(pl.uncached, with_bid=False))

    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    return R.serve(merged, list(spec.group_cols), list(spec.num_cols),
                   bucket_s=spec.bucket_s,
                   distinct=bool(spec.distinct_cols),
                   hist_cols=[c for c, _w in spec.hist_buckets])


#: a _stage-* dir this much older than now is a crashed run's
#: leftover; younger ones may belong to a LIVE run's partial write
#: (its parquet job keeps bumping the mtime), so the reaper skips
#: them — queries stay lock-free and vacuum still can't reclaim a
#: stage out from under them
STAGE_REAP_S = 3600.0


def vacuum(source: Table | str, cache_root: str | None = None) -> int:
    """Drop cache entries whose block no longer exists (digest/
    compaction/trim rewrote or removed it). Returns dirs removed.

    Standalone Table vacuums serialize on the per-table lifecycle
    lock (a digest's own cache GC must not race a concurrent
    `cache-vacuum` CLI process over the same dirs); bare-path form
    is for callers managing their own scope."""
    if isinstance(source, Table):
        from sybil_spark.sources.locks import table_lock
        with table_lock(source):
            return _vacuum(source, cache_root)
    return _vacuum(source, cache_root)


def _vacuum(source: Table | str, cache_root: str | None = None) -> int:
    """vacuum body — Table callers hold the table lock."""
    if isinstance(source, Table):
        blocks_root = source.blocks_path
        cache_root = cache_root or os.path.join(source.path, CACHE_DIR)
    else:
        blocks_root = source
        assert cache_root is not None
    live = {_block_id(b) for b in _list_blocks(blocks_root)}
    removed = 0
    if not os.path.isdir(cache_root):
        return 0
    import time as _time
    for key in os.listdir(cache_root):
        kdir = os.path.join(cache_root, key)
        if not os.path.isdir(kdir):
            continue
        if key.startswith("_stage-"):
            # leftover staging dir from a crashed run — but only
            # when cold (see STAGE_REAP_S): a live run's stage keeps
            # a fresh mtime while its partial is being written
            try:
                age = _time.time() - os.stat(kdir).st_mtime
            except FileNotFoundError:
                continue
            if age < STAGE_REAP_S:
                continue
            shutil.rmtree(kdir, ignore_errors=True)
            removed += 1
            continue
        for d in os.listdir(kdir):
            if d.startswith("_bid=") and d[len("_bid="):] not in live:
                shutil.rmtree(os.path.join(kdir, d), ignore_errors=True)
                removed += 1
        if not os.listdir(kdir):
            os.rmdir(kdir)
    return removed
