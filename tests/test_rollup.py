"""Materialized rollup: served results must equal direct scans.

The invariant under test is *mergeability*: build at fine granularity,
serve at coarse, and every derived aggregate (count/avg/sum/min/max/
stddev/hist/percentile) matches the same aggregate computed directly
on the raw rows — including after a parquet round-trip and after
unioning two incremental builds (the incremental-refresh path).
"""

import math

import pyspark.sql.functions as F
import pytest

from sybil_spark.sources import rollup as R


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from sybil_spark.corpus import _events
    return _events(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def roll(events):
    return R.build_rollup(events, "time", 60, ["event_type"], ["value"],
                          distinct_cols=["user_id"],
                          hist_buckets={"value": 10.0}).cache()


def _direct(events, bucket):
    b = (F.col("time") - F.pmod(F.col("time"), F.lit(bucket)))
    return {tuple(r[:2]): r for r in
            events.groupBy(b.alias("tbucket"), "event_type")
                  .agg(F.count(F.lit(1)).alias("count"),
                       # decimal-exact sum, then DOUBLE division —
                       # the _dsum(x)/count convention every corpus
                       # oracle and direct-path avg uses; serve()
                       # must be bit-equal to this, not to a decimal
                       # division (which rounds at scale 6)
                       (F.sum(F.col("value").cast("decimal(38,6)"))
                        .cast("double")
                        / F.count("value")).alias("avg_value"),
                       F.min("value").alias("min_value"),
                       F.max("value").alias("max_value"),
                       F.stddev_samp("value").alias("stddev_value"))
                  .collect()}


def test_serve_coarser_bucket_matches_direct(events, roll):
    served = {tuple(r[:2]): r for r in
              R.serve(roll, ["event_type"], ["value"], bucket_s=3600)
               .collect()}
    direct = _direct(events, 3600)
    assert served.keys() == direct.keys()
    for k, s in served.items():
        d = direct[k]
        assert s["count"] == d["count"]
        assert s["avg_value"] == d["avg_value"]  # bit-exact via decimal
        assert s["min_value"] == d["min_value"]
        assert s["max_value"] == d["max_value"]
        # sumsq is decimal(38,6) — quantized at 1e-6 per term, so the
        # moments-based stddev agrees to ~1e-8 rel, not bit-exact
        assert s["stddev_value"] == pytest.approx(d["stddev_value"],
                                                  rel=1e-6)


def test_serve_global_group_drop(events, roll):
    s = R.serve(roll, [], ["value"]).collect()[0]
    assert s["count"] == events.count()
    # _dsum(x)/count convention: exact decimal sum, DOUBLE division
    # (decimal division would round at scale 6 — not what serve does)
    exact = events.agg(
        (F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
         / F.count("value"))).collect()[0][0]
    assert s["avg_value"] == exact


def test_hll_distinct_close_to_exact(events, roll):
    est = R.serve(roll, ["event_type"], distinct=True).collect()
    exact = {r["event_type"]: r["d"] for r in
             events.groupBy("event_type")
                   .agg(F.countDistinct("user_id").alias("d")).collect()}
    for r in est:
        assert r["distinct"] == pytest.approx(exact[r["event_type"]],
                                              rel=0.05)


def test_hist_merge_and_percentiles(events, roll):
    served = R.serve(roll, ["event_type"], bucket_s=None,
                     hist_cols=["value"])
    direct = {r["event_type"]: dict(zip(r["b"], r["c"])) for r in
              events.where(F.col("value").isNotNull())
                    .groupBy("event_type",
                             F.floor(F.col("value") / 10).alias("hb"))
                    .agg(F.count(F.lit(1)).alias("c"))
                    .groupBy("event_type")
                    .agg(F.collect_list("hb").alias("b"),
                         F.collect_list("c").alias("c")).collect()}
    got = {r["event_type"]: r["hist_value"] for r in served.collect()}
    assert got == direct

    # bucket-quantized median lower bound brackets the true median
    p = R.percentiles_from_hist(served, "hist_value", 10.0, [0.5]).collect()
    true_med = {r["event_type"]: r["m"] for r in
                events.groupBy("event_type")
                      .agg(F.expr("percentile(value, 0.5)").alias("m"))
                      .collect()}
    for r in p:
        assert r["p50"] <= true_med[r["event_type"]] <= r["p50"] + 10.0


def test_null_group_keeps_its_histogram(spark):
    """A NULL group value is a real group (sybil's missing-value
    group): its histogram survives the re-joins of build_rollup,
    merge_partials and serve."""
    d = spark.createDataFrame([(0, "a", 5.0), (0, None, 7.0),
                               (0, None, 15.0)], "t long, g string, v double")
    roll = R.build_rollup(d, "t", 60, ["g"], ["v"],
                          hist_buckets={"v": 10.0})
    want = {"a": {0: 1}, None: {0: 1, 1: 1}}
    assert {r["g"]: r["v__hist"] for r in roll.collect()} == want
    assert {r["g"]: r["hist_v"] for r in
            R.serve(roll, ["g"], hist_cols=["v"]).collect()} == want
    merged = R.merge_partials(roll.unionByName(roll), ["g"], ["v"],
                              hist_cols=["v"])
    assert {r["g"]: r["v__hist"] for r in merged.collect()} == \
        {g: {b: 2 * c for b, c in h.items()} for g, h in want.items()}


def test_incremental_union_merges_exactly(events, roll):
    """Two half-builds unioned then served == one full build served —
    the incremental-refresh invariant."""
    mid = events.agg(F.expr("percentile(time, 0.5)")).collect()[0][0]
    r1 = R.build_rollup(events.where(F.col("time") <= mid), "time", 60,
                        ["event_type"], ["value"], ["user_id"])
    r2 = R.build_rollup(events.where(F.col("time") > mid), "time", 60,
                        ["event_type"], ["value"], ["user_id"])
    both = r1.unionByName(r2)
    a = {tuple(r[:1]): r for r in
         R.serve(both, ["event_type"], ["value"], distinct=True).collect()}
    b = {tuple(r[:1]): r for r in
         R.serve(roll.drop("value__hist"), ["event_type"], ["value"],
                 distinct=True).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["count"] == b[k]["count"]
        assert a[k]["avg_value"] == b[k]["avg_value"]
        assert a[k]["distinct"] == b[k]["distinct"]  # sketches merge


def test_parquet_round_trip(spark, roll, tmp_path):
    path = str(tmp_path / "roll")
    R.write_rollup(roll.drop("value__hist"), path)
    back = R.read_rollup(spark, path)
    a = R.serve(back, ["event_type"], ["value"], distinct=True).collect()
    b = R.serve(roll.drop("value__hist"), ["event_type"], ["value"],
                distinct=True).collect()
    key = lambda r: r["event_type"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_compact_rollup_preserves_serve(spark, events, tmp_path):
    """Append two half-builds to disk, compact to one partial per
    key, and serving before == after, bit-for-bit."""
    path = str(tmp_path / "increments")
    # split by row parity (NOT by time) so the same (tbucket, group)
    # keys appear in both increments and compaction has work to do
    for part in (events.where(F.col("event_id") % 2 == 0),
                 events.where(F.col("event_id") % 2 == 1)):
        # day-sized buckets: sf0.001 events are ~1 row per minute, so
        # 60 s buckets would never overlap between the two increments
        (R.build_rollup(part, "time", 86_400, ["event_type"], ["value"],
                        ["user_id"])
         .withColumn("__day", F.to_date(F.timestamp_seconds("tbucket")))
         .write.mode("append").partitionBy("__day").parquet(path))

    before = {r["event_type"]: r for r in
              R.serve(R.read_rollup(spark, path), ["event_type"], ["value"],
                      distinct=True).collect()}
    n_rows_pre = spark.read.parquet(path).count()
    n = R.compact_rollup(spark, path, ["event_type"], ["value"],
                         distinct=True)
    assert n < n_rows_pre   # overlapping buckets folded
    after = {r["event_type"]: r for r in
             R.serve(R.read_rollup(spark, path), ["event_type"], ["value"],
                     distinct=True).collect()}
    assert before.keys() == after.keys()
    for k in before:
        assert after[k]["count"] == before[k]["count"]
        assert after[k]["avg_value"] == before[k]["avg_value"]
        assert after[k]["distinct"] == before[k]["distinct"]


def test_rollup_negative_times_match_direct_scan(spark):
    """Time bucketing must truncate toward zero (t - t % bucket) on
    the rollup path exactly like the Query builder and the SQL
    oracles — negative (pre-1970) timestamps land in the same bucket
    either way."""
    from pyspark.sql import Row
    from sybil_spark.query.builder import Query
    rows = [Row(t=ts, v=float(i))
            for i, ts in enumerate([-7201, -7200, -3601, -1, 0, 1, 3599,
                                    3600, 7199])]
    d = spark.createDataFrame(rows)
    roll = R.build_rollup(d, "t", 60, [], ["v"])
    served = {r["tbucket"]: r["count"] for r in
              R.serve(roll, [], ["v"], bucket_s=3600).collect()}
    direct = {r["tbucket"]: r["count"] for r in
              (Query.table(d).time_col("t", 3600).limit(None)
               .execute(spark).collect())}
    assert served == direct


def test_refresh_rollup_incremental(spark, tmp_path):
    """ingest -> digest -> refresh -> serve loop: each refresh
    processes ONLY new blocks (manifest-tracked), appended partials
    merge exactly, and the served answer always equals a direct
    scan of everything so far."""
    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")

    def add_block(i):
        (spark.range(200).select(
            (F.col("id") * 30 + i * 6000).alias("time"),
            (F.col("id") % 2).cast("string").alias("host"),
            (F.col("id") * 1.0 + i).alias("ping"))
         .coalesce(1).write.mode("append").parquet(blocks))

    def direct():
        return {(r["tbucket"], r["host"]): (r["n"], float(r["s"]))
                for r in spark.read.parquet(blocks)
                .groupBy((F.col("time") - F.col("time") % 3600)
                         .alias("tbucket"), "host")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("ping").cast("decimal(38,6)"))
                      .cast("double").alias("s")).collect()}

    def served():
        return {(r["tbucket"], r["host"]): (r["count"],
                                            float(r["sum_ping"]))
                for r in R.serve(R.read_rollup(spark, roll_dir),
                                 ["host"], ["ping"],
                                 bucket_s=3600).collect()}

    add_block(0)
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1
    assert served() == direct()

    add_block(1)
    add_block(2)
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 2   # only the new
    assert served() == direct()

    # no new blocks -> no work
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 0

    # compaction folds the appended partials; answers unchanged AND
    # the manifest survives, so a following refresh is still a no-op
    # (a lost manifest would re-aggregate everything = 2x counts)
    R.compact_rollup(spark, roll_dir, ["host"], ["ping"])
    assert served() == direct()
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 0
    assert served() == direct()


def test_refresh_rollup_rebuilds_after_block_rewrite(spark, tmp_path):
    """Table-block compaction/trim invalidates manifested blocks:
    refresh detects the vanished ids and falls back to a full
    rebuild instead of silently double-counting (append-only
    partials can't subtract the stale ones)."""
    import glob
    import os

    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")
    for i in range(2):
        (spark.range(100).select(
            (F.col("id") * 60 + i * 6000).alias("time"),
            F.lit("h").alias("host"),
            (F.col("id") * 1.0).alias("ping"))
         .coalesce(1).write.mode("append").parquet(blocks))
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 2
    # simulate compaction: remove one block (its rows rewritten away)
    os.remove(sorted(glob.glob(f"{blocks}/part-*.parquet"))[0])
    n = R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                         ["host"], ["ping"])
    assert n == 1  # full rebuild over the current single block
    got = {r["tbucket"]: r["count"] for r in
           R.serve(R.read_rollup(spark, roll_dir), ["host"], ["ping"],
                   bucket_s=60).collect()}
    direct = {r["tb"]: r["n"] for r in
              spark.read.parquet(blocks)
              .groupBy((F.col("time") - F.col("time") % 60).alias("tb"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == direct


def test_refresh_rollup_crash_recovery_exactly_once(spark, tmp_path):
    """A pending increment (crash between append and manifest
    commit) is deleted and re-processed — no double count."""
    import json
    import os

    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")
    (spark.range(100).select(
        (F.col("id") * 60).alias("time"), F.lit("h").alias("host"),
        (F.col("id") * 1.0).alias("ping"))
     .coalesce(1).write.parquet(blocks))
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1
    # simulate the crash: mark the committed increment as pending
    # again (as if the final manifest write never happened)
    mp = os.path.join(roll_dir, "_manifest.json")
    with open(mp) as f:
        man = json.load(f)
    import glob as _g
    inc = os.path.basename(_g.glob(
        f"{roll_dir}/__day=*/__inc=*")[0]).split("=", 1)[1]
    man["pending"] = {"inc": inc, "ids": man["blocks"]}
    man["blocks"] = []
    with open(mp, "w") as f:
        json.dump(man, f)

    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1  # re-processed
    got = R.serve(R.read_rollup(spark, roll_dir), ["host"],
                  ["ping"]).collect()[0]
    assert got["count"] == 100  # not 200


def test_refresh_refuses_unmanifested_dir(spark, tmp_path):
    """rollup-build output has no manifest: refresh must refuse
    loudly instead of appending a second full aggregation."""
    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")
    df = (spark.range(50).select(
        (F.col("id") * 60).alias("time"), F.lit("h").alias("host"),
        (F.col("id") * 1.0).alias("ping")))
    df.coalesce(1).write.parquet(blocks)
    R.write_rollup(R.build_rollup(df, "time", 60, ["host"], ["ping"]),
                   roll_dir)
    with pytest.raises(ValueError, match="no refresh manifest"):
        R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                         ["host"], ["ping"])


def test_compact_recovers_pending_increment(spark, tmp_path):
    """compact_rollup must NOT fold a crashed refresh's uncommitted
    increment into the base partials: it recovers (deletes) the
    pending increment first, so the following refresh re-processes
    those blocks exactly once — served counts never double."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")
    (spark.range(200).select(
        (F.col("id") * 60).alias("time"), F.lit("h").alias("host"),
        (F.col("id") * 1.0).alias("ping"))
     .coalesce(1).write.parquet(blocks))
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1
    # simulate the crash: increment written but manifest uncommitted
    mp = os.path.join(roll_dir, "_manifest.json")
    with open(mp) as f:
        man = json.load(f)
    inc = os.path.basename(glob.glob(
        f"{roll_dir}/__day=*/__inc=*")[0]).split("=", 1)[1]
    man["pending"] = {"inc": inc, "ids": man["blocks"]}
    man["blocks"] = []
    with open(mp, "w") as f:
        json.dump(man, f)

    R.compact_rollup(spark, roll_dir, ["host"], ["ping"])
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1  # re-processed
    got = R.serve(R.read_rollup(spark, roll_dir), ["host"],
                  ["ping"]).collect()[0]
    assert got["count"] == 200  # not 400


def test_refresh_after_full_trim(spark, tmp_path):
    """Every block trimmed away: refresh empties the rollup and
    keeps a clean manifest instead of crashing on a zero-path read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    blocks = str(tmp_path / "blocks")
    roll_dir = str(tmp_path / "roll")
    (spark.range(50).select(
        (F.col("id") * 60).alias("time"), F.lit("h").alias("host"),
        (F.col("id") * 1.0).alias("ping"))
     .coalesce(1).write.parquet(blocks))
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 1
    shutil.rmtree(blocks)
    os.makedirs(blocks)
    assert R.refresh_rollup(spark, blocks, roll_dir, "time", 60,
                            ["host"], ["ping"]) == 0
    assert not [f for f in os.listdir(roll_dir)
                if f.startswith("__day=")]
