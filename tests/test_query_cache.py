"""Per-block query cache: hit/miss planning, zone-map filter
dropping (the sliding-time-window case), bit-exact cached answers,
and invalidation (reference src/lib/query_cache.go:30-242)."""

import os

import pytest
from pyspark.sql import functions as F

from sybil_spark.query.builder import compile_filters
from sybil_spark.sources import query_cache as QC
from sybil_spark.sources.query_cache import CacheSpec


@pytest.fixture()
def blocks(spark, tmp_path):
    """Three time-sorted parquet blocks: t spans [0,1000),
    [1000,2000), [2000,3000), 250 rows each, plus a value column."""
    paths = []
    for i in range(3):
        df = spark.range(250).select(
            (F.col("id") * 4 + i * 1000).alias("t"),
            (F.col("id") % 5).cast("string").alias("g"),
            (F.col("id") * 1.5 + i).alias("v"))
        p = str(tmp_path / f"block{i}")
        df.coalesce(1).write.parquet(p)
        paths.append(p)
    return paths


def _direct(spark, paths, t_min):
    raw = spark.read.parquet(*paths).where(F.col("t") >= t_min)
    return {(r["g"],): (r["n"], float(r["s"]))
            for r in raw.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                  .alias("s")).collect()}


def _served(df):
    return {(r["g"],): (r["count"], float(r["sum_v"]))
            for r in df.collect()}


def test_cold_warm_bit_exact(spark, blocks, tmp_path):
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",),
                     filters=(("int", "ge", "t", 0),))
    cold = _served(QC.run(spark, blocks, spec, croot, cache_min_rows=1))
    warm = _served(QC.run(spark, blocks, spec, croot, cache_min_rows=1))
    assert cold == warm == _direct(spark, blocks, 0)


def test_sliding_window_hits_interior_blocks(spark, blocks, tmp_path):
    """The reference's headline cache property: a moving absolute
    time threshold re-uses interior blocks' cached partials because
    a filter trivially true for a block is excluded from its key
    (query_cache.go:69-131). Blocks fully covered by BOTH windows
    share one cache entry; only the straddling block recomputes."""
    croot = str(tmp_path / "cache")
    files = [b for p in blocks for b in QC._list_blocks(p)]

    spec1 = CacheSpec(group_cols=("g",), num_cols=("v",),
                      filters=(("int", "ge", "t", 500),))
    r1 = _served(QC.run(spark, blocks, spec1, croot, cache_min_rows=1))
    assert r1 == _direct(spark, blocks, 500)

    # shifted window, same shape: t >= 700 instead of 500
    spec2 = CacheSpec(group_cols=("g",), num_cols=("v",),
                      filters=(("int", "ge", "t", 700),))
    pl2 = QC.plan(files, spec2, croot, cache_min_rows=1)
    # blocks 1 and 2 (t >= 1000) satisfy both filters trivially ->
    # same key as under spec1 -> HIT; block 0 straddles -> MISS
    assert len(pl2.hits) == 2 and len(pl2.misses) == 1
    assert "block0" in pl2.misses[0]
    r2 = _served(QC.run(spark, blocks, spec2, croot, cache_min_rows=1))
    assert r2 == _direct(spark, blocks, 700)

    # warm re-run of the shifted window: all three blocks hit
    pl3 = QC.plan(files, spec2, croot, cache_min_rows=1)
    assert len(pl3.hits) == 3 and not pl3.misses


def test_new_blocks_only_miss(spark, blocks, tmp_path):
    """Append-only growth: after new data lands, a repeated query
    recomputes ONLY the new block."""
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    QC.run(spark, blocks, spec, croot, cache_min_rows=1)

    p_new = str(tmp_path / "block3")
    spark.range(300).select(
        (F.col("id") + 3000).alias("t"),
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") * 1.5 + 3).alias("v")).coalesce(1).write.parquet(p_new)
    all_blocks = blocks + [p_new]
    files = [b for p in all_blocks for b in QC._list_blocks(p)]
    pl = QC.plan(files, spec, croot, cache_min_rows=1)
    assert len(pl.hits) == 3 and len(pl.misses) == 1
    assert "block3" in pl.misses[0]
    got = _served(QC.run(spark, all_blocks, spec, croot, cache_min_rows=1))
    assert got == _direct(spark, all_blocks, -1)


def test_small_blocks_not_persisted(spark, blocks, tmp_path):
    """The reference skips caching partial blocks
    (query_cache.go:185-188): below cache_min_rows nothing lands on
    disk, but answers are still correct."""
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    r = _served(QC.run(spark, blocks, spec, croot,
                       cache_min_rows=10_000))
    assert r == _direct(spark, blocks, -1)
    assert not os.path.isdir(croot) or not os.listdir(croot)


def test_eq_and_str_filters_never_dropped(spark, blocks, tmp_path):
    """Only extent-provable gt/lt/ge/le int filters are droppable
    (reference drops only lt/gt); eq and str filters always key."""
    croot = str(tmp_path / "cache")
    files = [b for p in blocks for b in QC._list_blocks(p)]
    s_eq = CacheSpec(group_cols=("g",), num_cols=("v",),
                     filters=(("int", "eq", "t", 1500),))
    s_str = CacheSpec(group_cols=("g",), num_cols=("v",),
                      filters=(("str", "eq", "g", "2"),))
    _, stats = QC._footer_stats(files[0])
    assert not QC._trivial(("int", "eq", "t", 1500), stats)
    assert not QC._trivial(("str", "eq", "g", "2"), stats)
    r = _served(QC.run(spark, blocks, s_str, croot, cache_min_rows=1))
    direct = {(rr["g"],): (rr["n"], float(rr["s"]))
              for rr in spark.read.parquet(*blocks).where("g = '2'")
              .groupBy("g")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                    .alias("s")).collect()}
    assert r == direct
    assert _served(QC.run(spark, blocks, s_eq, croot, cache_min_rows=1)) \
        == _direct_eq(spark, blocks)


def _direct_eq(spark, paths):
    return {(r["g"],): (r["n"], float(r["s"]))
            for r in spark.read.parquet(*paths).where("t = 1500")
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                  .alias("s")).collect()}


def test_vacuum_drops_dead_entries(spark, blocks, tmp_path):
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    QC.run(spark, blocks, spec, croot, cache_min_rows=1)
    # no dead entries yet
    live_root = str(tmp_path)
    assert QC.vacuum(live_root, croot) == 0
    # remove a block -> its entry becomes dead
    import shutil
    shutil.rmtree(blocks[0])
    assert QC.vacuum(live_root, croot) == 1


def test_timed_spec_buckets(spark, blocks, tmp_path):
    """time_col + bucket_s: served output matches the direct bucketed
    aggregation bit-for-bit."""
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=(), num_cols=("v",),
                     time_col="t", bucket_s=500)
    got = {r["tbucket"]: (r["count"], float(r["sum_v"]))
           for r in QC.run(spark, blocks, spec, croot,
                           cache_min_rows=1).collect()}
    direct = {r["tb"]: (r["n"], float(r["s"]))
              for r in spark.read.parquet(*blocks)
              .groupBy((F.col("t") - F.col("t") % 500).alias("tb"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                    .alias("s")).collect()}
    assert got == direct


# ---------------------------------------------------------------------------
# property-based: cached == direct for random specs and layouts
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


@pytest.fixture(scope="module")
def fuzz_blocks(spark, tmp_path_factory):
    """Four blocks with overlapping, irregular t ranges (so filter
    triviality differs per block) and nulls in v."""
    d = tmp_path_factory.mktemp("qcfuzz")
    ranges = [(0, 400), (300, 900), (850, 1300), (1250, 2000)]
    paths = []
    for i, (lo, hi) in enumerate(ranges):
        n = 120 + i * 37
        df = spark.range(n).select(
            (F.col("id") * ((hi - lo) // n + 1) + lo).alias("t"),
            (F.col("id") % 4).cast("string").alias("g"),
            F.when(F.col("id") % 11 == 0, None)
             .otherwise(F.col("id") * 0.25 + i).alias("v"))
        p = str(d / f"b{i}")
        df.coalesce(1).write.parquet(p)
        paths.append(p)
    return paths


@given(op=st.sampled_from(["gt", "lt", "ge", "le", "eq", "neq"]),
       val=st.integers(min_value=-100, max_value=2100),
       grouped=st.booleans(),
       second=st.one_of(st.none(),
                        st.tuples(st.sampled_from(["gt", "lt"]),
                                  st.integers(min_value=-100,
                                              max_value=2100))))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_cached_equals_direct_fuzz(spark, fuzz_blocks, tmp_path_factory,
                                   op, val, grouped, second):
    """The cache's key-relevance logic (drop filters a block's
    footer proves trivially true) must NEVER change an answer: for
    random gt/lt/ge/le/eq/neq thresholds — some trivial on some
    blocks, some not, some emptying blocks entirely — the cached
    result equals the direct aggregation bit-for-bit, including on a
    second run served purely from cache."""
    croot = str(tmp_path_factory.mktemp("qc") / "cache")
    filters = [("int", op, "t", val)]
    if second:
        op2, val2 = second
        filters.append(("int", op2, "t", val2))
    spec = CacheSpec(group_cols=("g",) if grouped else (),
                     num_cols=("v",), filters=tuple(filters))

    raw = spark.read.parquet(*fuzz_blocks)
    pred = compile_filters(spec.filters)
    raw = raw.where(pred)
    gb = raw.groupBy("g") if grouped else raw.groupBy()
    direct = {(r["g"] if grouped else None):
              (r["n"], None if r["s"] is None else float(r["s"]))
              for r in gb.agg(
                  F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                   .alias("s")).collect()}

    def served(df):
        return {(r["g"] if grouped else None):
                (r["count"],
                 None if r["sum_v"] is None else float(r["sum_v"]))
                for r in df.collect()}

    cold = served(QC.run(spark, fuzz_blocks, spec, croot,
                         cache_min_rows=1))
    warm = served(QC.run(spark, fuzz_blocks, spec, croot,
                         cache_min_rows=1))
    # empty-result edge: direct agg of zero rows still yields one
    # row (count=0) for the ungrouped case; the cache path merges
    # zero partial rows the same way
    assert cold == warm == direct


def test_broadcast_mapping_branch(spark, blocks, tmp_path, monkeypatch):
    """Above INLINE_MAP_MAX missed files the file->block-id mapping
    is a broadcast join, not a literal map (plan-size bound at 100k
    blocks); answers identical either way."""
    monkeypatch.setattr(QC, "INLINE_MAP_MAX", 0)
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    cold = _served(QC.run(spark, blocks, spec, croot, cache_min_rows=1))
    warm = _served(QC.run(spark, blocks, spec, croot, cache_min_rows=1))
    assert cold == warm == _direct(spark, blocks, -1)


def test_day_partitioned_same_basename_blocks(spark, tmp_path):
    """Dynamic-partition writes repeat part-file basenames across
    day= dirs; the block key/id must disambiguate by parent dir or
    two blocks share a mapping entry (double-counted partials)."""
    import glob
    import shutil as sh

    base = tmp_path / "blocks"
    for day, off in (("day=2020-01-01", 0), ("day=2020-01-02", 86400)):
        d = base / day
        (spark.range(200).select(
            (F.col("id") + off).alias("t"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 0.5 + off).alias("v"))
         .coalesce(1).write.parquet(str(d)))
        f = glob.glob(str(d / "part-*.parquet"))[0]
        sh.move(f, str(d / "part-00000.parquet"))  # force collision

    files = QC._list_blocks(str(base))
    assert len(files) == 2
    assert QC._block_id(files[0]) != QC._block_id(files[1])

    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    cold = _served(QC.run(spark, [str(base)], spec, croot,
                          cache_min_rows=1))
    warm = _served(QC.run(spark, [str(base)], spec, croot,
                          cache_min_rows=1))
    direct = {(r["g"],): (r["n"], float(r["s"]))
              for r in spark.read.parquet(str(base)).groupBy("g")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                    .alias("s")).collect()}
    assert cold == warm == direct

    # a spec referencing the partition-dir column (not in the block
    # files themselves) is rejected loudly -> CLI falls back direct
    with pytest.raises(ValueError, match="not present in block files"):
        QC.run(spark, [str(base)],
               CacheSpec(group_cols=("day",), num_cols=("v",)),
               croot, cache_min_rows=1)


def test_warm_run_plan_reads_no_raw_blocks(spark, blocks, tmp_path):
    """The warm path's PLAN must reference only cache partials — if
    a raw block path appears in the scan relations, the cache is
    decorative. (The cold path already proved answers correct.)"""
    croot = str(tmp_path / "cache")
    spec = CacheSpec(group_cols=("g",), num_cols=("v",))
    QC.run(spark, blocks, spec, croot, cache_min_rows=1)
    warm = QC.run(spark, blocks, spec, croot, cache_min_rows=1)
    from sybil_spark.plans import inspect as I
    plan = I.formatted_plan(warm)
    assert "cache" in plan
    assert "block0" not in plan and "block1" not in plan \
        and "block2" not in plan, plan


def test_zorder_layout_widens_cache_reuse(spark, tmp_path):
    """Round-5 feature interplay: on a Z-ORDERED table, a filter on
    the SECOND clustered column is provably trivial for most blocks
    (their footer b-range sits wholly above the cut), so those
    blocks' cache keys drop the filter and survive a filter-value
    change — the sliding-window effect on a non-time dimension. The
    time-sorted layout leaves every file spanning ~the full b-range:
    no block drops the filter, every key changes, zero reuse."""
    from sybil_spark.sources import compact as C
    from sybil_spark.table import Table, TableMeta

    def build(name, **kw):
        t = Table(str(tmp_path / name), name)
        os.makedirs(t.ingest_path, exist_ok=True)
        df = spark.createDataFrame(
            [(i * 2654435761 % 10_000, (i * 40503) % 10_000, i, 1.0)
             for i in range(8000)], "a long, b long, time long, v double")
        df.coalesce(2).write.mode("append").parquet(t.ingest_path)
        t.save_meta(TableMeta(name=name, time_col="time"))
        C.digest(spark, t, chunk_size=1000, **kw)
        return QC._list_blocks(t.blocks_path)

    def stable_keys(blocks):
        """FULL blocks whose cache key is IDENTICAL for two different
        filter cut values (i.e. the filter was dropped from both).
        Tiny maxRecordsPerFile tail files are excluded: a <=20-row
        tail of consecutive time can sit entirely above both cuts by
        accident of range-boundary sampling, while a 1000-row
        time-sorted block never can (b's longest high run is ~19
        rows) — counting only full blocks makes both assertions
        deterministic."""
        out = []
        full = [b for b in blocks if QC._footer_stats(b)[0] >= 200]
        for cut in (500, 700):
            spec = CacheSpec(group_cols=("a",), num_cols=("v",),
                             filters=(("int", "ge", "b", cut),))
            p = QC.plan(full, spec, str(tmp_path / "cr"))
            out.append(dict(p.key_of))
        return sum(1 for b in out[0] if out[0][b] == out[1].get(b))

    z = build("zc", cluster_cols=["a", "b"])
    t = build("tc")
    assert len(z) >= 6 and len(t) >= 6
    assert stable_keys(t) == 0
    # >=1, not a fraction: repartitionByRange samples its boundaries
    # with a nondeterministic seed, so HOW MANY blocks sit wholly
    # above both cuts varies run to run — the sharp claim is
    # some-reuse-vs-none, and typical runs give len(z)/3 or more
    assert stable_keys(z) >= 1, (stable_keys(z), len(z))


# --------------------------------------------------------------------
# Hypothesis generalization of the crafted cases above: random
# filter/group specs x random block boundaries x random overlap of
# cached/uncached blocks (reference query_cache_test.go:8-264, the
# key-generation consistency suite).
# --------------------------------------------------------------------

import uuid

from hypothesis import HealthCheck, given, settings, strategies as st

# each block: (t_start, nrows, t_null_every) — t ranges overlap
# across blocks by construction; t_null_every > 0 plants NULLs in
# the filter column, which must veto zone-map filter dropping
_blocks_st = st.lists(
    st.tuples(st.integers(0, 30), st.integers(1, 60),
              st.sampled_from([0, 0, 0, 7])),
    min_size=2, max_size=4)

_filters_st = st.lists(
    st.one_of(
        st.tuples(st.just("int"), st.sampled_from(["ge", "le", "gt", "lt"]),
                  st.just("t"), st.integers(-5, 120)),
        st.tuples(st.just("str"), st.sampled_from(["eq", "neq"]),
                  st.just("g"), st.sampled_from(["0", "1", "2"]))),
    max_size=3)


def _mk_blocks(spark, root, shapes):
    paths = []
    for i, (t0, n, null_every) in enumerate(shapes):
        t = F.col("id") * 2 + t0
        if null_every:
            t = F.when(F.col("id") % null_every != 0, t)
        df = spark.range(n).select(
            t.alias("t"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 0.5 + i).alias("v"))
        p = os.path.join(root, f"b{i}")
        df.coalesce(1).write.parquet(p)
        paths.append(p)
    return paths


@given(shapes=_blocks_st, filters=_filters_st,
       pre_filters=_filters_st, bucket=st.sampled_from([None, 8]),
       min_rows=st.sampled_from([1, 30]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_cache_fuzz_warm_equals_cold(spark, tmp_path_factory, shapes,
                                     filters, pre_filters, bucket,
                                     min_rows):
    """For random specs/blocks: (1) a no-cache run, a cold caching
    run, and a warm run agree bit-exactly; (2) pre-seeding the cache
    with a DIFFERENT spec (random hit/miss overlap via shared
    dropped-filter keys) never changes the answer; (3) every filter
    dropped from a block's key is provably trivial ON THE DATA —
    passes every row, zero nulls in its column."""
    root = str(tmp_path_factory.mktemp("qcfuzz") / uuid.uuid4().hex[:8])
    os.makedirs(root)
    paths = _mk_blocks(spark, root, shapes)
    files = [b for p in paths for b in QC._list_blocks(p)]
    kw = dict(time_col="t", bucket_s=bucket) if bucket else {}
    spec = CacheSpec(group_cols=("g",), num_cols=("v",),
                     filters=tuple(filters), **kw)
    croot = os.path.join(root, "cache")

    def snap(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(repr(r[c]) for c in cols) for r in df.collect())

    # (1) pure-compute reference: nothing reaches caching threshold
    direct = snap(QC.run(spark, paths, spec, croot + "-none",
                         cache_min_rows=10**9))
    # (2) pre-seed with a different spec, then cold + warm
    pre = CacheSpec(group_cols=("g",), num_cols=("v",),
                    filters=tuple(pre_filters), **kw)
    QC.run(spark, paths, pre, croot, cache_min_rows=min_rows)
    cold = snap(QC.run(spark, paths, spec, croot,
                       cache_min_rows=min_rows))
    warm = snap(QC.run(spark, paths, spec, croot,
                       cache_min_rows=min_rows))
    assert direct == cold == warm
    # (3) dropped-from-key filters are zone-map-trivial on the data
    for b in files:
        _n, stats = QC._footer_stats(b)
        dropped = [f for f in spec.filters if QC._trivial(f, stats)]
        if not dropped:
            continue
        raw = spark.read.parquet(b)
        for f in dropped:
            pred = compile_filters([f])
            assert raw.where(~pred).count() == 0, (b, f)
            assert raw.where(F.col(f[2]).isNull()).count() == 0, (b, f)
