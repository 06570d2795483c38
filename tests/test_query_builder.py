"""Query-builder semantics, invariant-style (reference
src/lib/aggregate_test.go, filter_test.go — see SURVEY.md §5):
derived correlated columns let results be asserted without a second
engine."""

import pytest
from pyspark.sql import Row, functions as F

from sybil_spark.query.builder import Query


@pytest.fixture(scope="module")
def df(spark):
    # the reference test fixture: age + age_str = str(age) + age_set
    # (aggregate_test.go:25-30), plus weight and time columns
    rows = []
    for i in range(1000):
        age = 10 + (i * 7) % 20
        rows.append(Row(id=i, age=age, age_str=str(age), age_set=[str(age)],
                        weight=(1, 10, 100)[i % 3],
                        time=1_700_000_000 + i * 61))
    return spark.createDataFrame(rows).cache()


def test_count(spark, df):
    out = Query.table(df).limit(None).execute(spark).collect()
    assert out[0]["count"] == 1000


def test_group_key_equals_mean(spark, df):
    """age_str group key must equal mean(age) of the group
    (reference aggregate_test.go:25-56)."""
    res = (Query.table(df).group_by("age_str").agg("age", "avg")
           .limit(None).execute(spark).collect())
    assert len(res) == 20
    for r in res:
        assert float(r["age_str"]) == pytest.approx(r["avg_age"])


def test_group_key_equals_percentiles(spark, df):
    """p25/p50/p75 equal the key for constant-in-group values
    (reference aggregate_test.go:102-155)."""
    res = (Query.table(df).group_by("age_str")
           .agg("age", "percentile", percentiles=[0.25, 0.5, 0.75])
           .limit(None).execute(spark).collect())
    for r in res:
        k = float(r["age_str"])
        assert r["p25_age"] == k and r["p50_age"] == k and r["p75_age"] == k


def test_int_filters(spark, df):
    for op, pred in [("gt", lambda a: a > 20), ("lt", lambda a: a < 20),
                     ("eq", lambda a: a == 20), ("neq", lambda a: a != 20)]:
        got = (Query.table(df).int_filter("age", op, 20)
               .limit(None).execute(spark).collect()[0]["count"])
        want = sum(1 for i in range(1000) if pred(10 + (i * 7) % 20))
        assert got == want, op


def test_str_filters(spark, df):
    got = (Query.table(df).str_filter("age_str", "re", "^1[0-9]$")
           .limit(None).execute(spark).collect()[0]["count"])
    want = sum(1 for i in range(1000) if 10 <= 10 + (i * 7) % 20 <= 19)
    assert got == want
    nre = (Query.table(df).str_filter("age_str", "nre", "^1[0-9]$")
           .limit(None).execute(spark).collect()[0]["count"])
    assert nre == 1000 - want


def test_set_filters(spark, df):
    got = (Query.table(df).set_filter("age_set", "in", "15")
           .limit(None).execute(spark).collect()[0]["count"])
    want = sum(1 for i in range(1000) if (10 + (i * 7) % 20) == 15)
    assert got == want
    nin = (Query.table(df).set_filter("age_set", "nin", "15")
           .limit(None).execute(spark).collect()[0]["count"])
    assert nin == 1000 - want


def test_null_never_matches(spark):
    """Missing values match no filter — the reference's unpopulated
    semantics (src/lib/filter.go:171-195)."""
    d = spark.createDataFrame([Row(x=1), Row(x=None), Row(x=3)])
    assert (Query.table(d).int_filter("x", "gt", 0)
            .limit(None).execute(spark).collect()[0]["count"]) == 2
    assert (Query.table(d).int_filter("x", "neq", 1)
            .limit(None).execute(spark).collect()[0]["count"]) == 1


def test_weighted_count_and_samples(spark, df):
    """count is weight-summed, samples is raw rows (reference
    aggregate.go:100-102); weighted avg is sum(v*w)/sum(w)
    (hist_basic.go:111-118)."""
    res = (Query.table(df).weight_col("weight").agg("age", "avg")
           .limit(None).execute(spark).collect()[0])
    ages = [10 + (i * 7) % 20 for i in range(1000)]
    ws = [(1, 10, 100)[i % 3] for i in range(1000)]
    assert res["samples"] == 1000
    assert res["count"] == sum(ws)
    assert res["avg_age"] == pytest.approx(
        sum(a * w for a, w in zip(ages, ws)) / sum(ws))


def test_time_rollup_and_filter_alignment(spark, df):
    """Time filters are floored to the bucket boundary when rollup is
    active (reference src/lib/filter.go:86-95)."""
    bucket = 3600
    cutoff = 1_700_003_999  # mid-bucket; aligns down to 1_700_003_600-ish
    aligned = cutoff - cutoff % bucket
    res = (Query.table(df).time_col("time", bucket)
           .int_filter("time", "gt", cutoff)
           .limit(None).execute(spark).collect())
    want = sum(1 for i in range(1000) if 1_700_000_000 + i * 61 > aligned)
    assert sum(r["count"] for r in res) == want
    for r in res:
        assert r["tbucket"] % bucket == 0


def test_total_row(spark, df):
    """Grand-total row (reference aggregate.go:414-459): null group
    key, count covers all rows."""
    res = (Query.table(df).group_by("age_str").total_row()
           .limit(None).execute(spark).collect())
    totals = [r for r in res if r["age_str"] is None]
    assert len(totals) == 1 and totals[0]["count"] == 1000
    assert len(res) == 21


def test_sort_and_limit_deterministic(spark, df):
    res = (Query.table(df).group_by("age_str").sort("count")
           .limit(5).execute(spark).collect())
    counts = [r["count"] for r in res]
    assert counts == sorted(counts, reverse=True)
    again = (Query.table(df).group_by("age_str").sort("count")
             .limit(5).execute(spark).collect())
    assert res == again


def test_str_replace(spark, df):
    def q():
        return (Query.table(df).str_replace("age_str", "^1", "X")
                .group_by("age_str").limit(None))

    res = q().execute(spark).collect()
    keys = {r["age_str"] for r in res}
    assert all(k.startswith("X") or k.startswith("2") for k in keys)
    # every op sees the same rewritten key (one shared scan prelude)
    for rows in (q().hist(spark, "age", bucket=5.0).collect(),
                 q().hist_summary(spark, "age", bucket=5.0).collect(),
                 q().loghist(spark, "age").collect(),
                 q().distinct_values(spark, ["age_str"]).collect()):
        assert {r["age_str"] for r in rows} == keys


def test_hist_buckets(spark, df):
    res = (Query.table(df).limit(None)
           .hist(spark, "age", bucket=5.0).collect())
    total = sum(r["count"] for r in res)
    assert total == 1000
    assert all(r["bucket"] % 5 == 0 for r in res)


def test_hist_auto_bucket_from_minmax(spark, df):
    res = Query.table(df).limit(None).hist(spark, "age").collect()
    assert sum(r["count"] for r in res) == 1000


def test_read_log_union(spark, df):
    extra = spark.createDataFrame(
        [Row(id=-1, age=99, age_str="99", age_set=["99"], weight=1,
             time=1_700_000_000)])
    res = (Query.table(df).read_log(extra).group_by("age_str")
           .limit(None).execute(spark).collect())
    assert sum(r["count"] for r in res) == 1001


def test_distinct(spark, df):
    res = (Query.table(df).distinct_cols("age_str")
           .limit(None).execute(spark).collect()[0])
    assert res["distinct"] == 20
    approx = (Query.table(df).distinct_cols("age_str", approx=True)
              .limit(None).execute(spark).collect()[0])
    assert abs(approx["distinct"] - 20) <= 2


def test_percentile_approx_close_to_exact(spark, df):
    exact = (Query.table(df).group_by("age_str")
             .agg("age", "percentile", percentiles=[0.5])
             .limit(None).execute(spark).collect())
    approx = (Query.table(df).group_by("age_str")
              .agg("age", "percentile", percentiles=[0.5], approx=True)
              .limit(None).execute(spark).collect())
    e = {r["age_str"]: r["p50_age"] for r in exact}
    a = {r["age_str"]: r["p50_age"] for r in approx}
    assert e.keys() == a.keys()
    for k in e:
        assert a[k] == pytest.approx(e[k], rel=0.05)


def test_group_by_set_explodes(spark, df):
    res = (Query.table(df).group_by_set("age_set", "age_elem")
           .limit(None).execute(spark).collect())
    # age_set = [str(age)] so element counts mirror the age groups
    direct = {r["age_str"]: r["count"] for r in
              Query.table(df).group_by("age_str").limit(None)
              .execute(spark).collect()}
    got = {r["age_elem"]: r["count"] for r in res}
    assert got == direct


def test_group_by_set_after_set_filter(spark, df):
    # the set filter sees the whole array (applies before explode)
    res = (Query.table(df).set_filter("age_set", "in", "10")
           .group_by_set("age_set", "e").limit(None)
           .execute(spark).collect())
    assert {r["e"] for r in res} == {"10"}


def test_distinct_approx_tolerance(spark, df):
    exact = {r["age_str"]: r["distinct"] for r in
             Query.table(df).group_by("age_str").distinct_cols("id")
             .limit(None).execute(spark).collect()}
    approx = {r["age_str"]: r["distinct"] for r in
              Query.table(df).group_by("age_str")
              .distinct_cols("id", approx=True, rsd=0.02)
              .limit(None).execute(spark).collect()}
    for k, v in exact.items():
        assert approx[k] == pytest.approx(v, rel=0.1)


def test_loghist_buckets_exact_at_powers_of_two(spark):
    """The bit-length log2 bucketing must place 2^k exactly in the
    2^k bucket and 2^k - 1 in the 2^(k-1) bucket — the boundary where
    float log2 implementations disagree in the last ulp."""
    from pyspark.sql import Row
    vals = [float(2 ** k) for k in range(1, 11)] \
        + [float(2 ** k - 1) for k in range(2, 11)] + [0.5, 1.0]
    d = spark.createDataFrame([Row(v=v) for v in vals])
    out = {r["v"]: None for r in d.collect()}
    res = (Query.table(d).limit(None).loghist(spark, "v").collect())
    by_bucket = {}
    for r in res:
        by_bucket[r["bucket"]] = by_bucket.get(r["bucket"], 0) + r["count"]
    # 2^k alone in bucket 2^k plus 2^(k+1)-1 from below
    assert by_bucket[1024.0] == 1            # only 1024 itself
    assert by_bucket[512.0] == 2             # 512 and 1023
    assert by_bucket[0.0] == 1               # 0.5 (below 1)
    assert by_bucket[1.0] == 1               # 1.0


def test_invalid_ops_raise(spark, df):
    with pytest.raises(ValueError):
        Query.table(df).int_filter("age", "like", 1)
    with pytest.raises(ValueError):
        Query.table(df).str_filter("age_str", "gt", "x")
    with pytest.raises(ValueError):
        Query.table(df).set_filter("age_set", "eq", "x")
    with pytest.raises(ValueError):
        Query.table(df).agg("age", "median")


def test_weighted_percentile(spark):
    """Weighted median = smallest value whose cumulative weight
    reaches half the total weight (reference derives percentiles from
    weight-scaled hist counts, hist_basic.go:111-118, 153-183)."""
    d = spark.createDataFrame([Row(v=1.0, w=1), Row(v=2.0, w=1),
                               Row(v=3.0, w=10), Row(v=4.0, w=1)])
    r = (Query.table(d).weight_col("w")
         .agg("v", "percentile", percentiles=[0.5])
         .limit(None).execute(spark).collect()[0])
    # total weight 13; cum at v=3 is 12 >= 6.5 -> weighted median 3
    assert r["p50_v"] == 3.0
    # unweighted median of the same rows is 2.5 (interpolated) — the
    # weight genuinely changes the answer
    u = (Query.table(d).agg("v", "percentile", percentiles=[0.5])
         .limit(None).execute(spark).collect()[0])
    assert u["p50_v"] != r["p50_v"]
    # approx sketch + weights is an explicit error, not silence
    with pytest.raises(ValueError, match="weight"):
        (Query.table(d).weight_col("w")
         .agg("v", "percentile", percentiles=[0.5], approx=True)
         .limit(None).execute(spark))


def test_group_by_set_hist(spark):
    """group_by_set + hist must group per set ELEMENT (the compile()
    explode), never silently aggregate without the grouping."""
    d = spark.createDataFrame([
        Row(tags=["a", "b"], v=10.0),
        Row(tags=["a"], v=30.0),
        Row(tags=["c"], v=30.0)])
    res = (Query.table(d).group_by_set("tags", "tag").limit(None)
           .hist(spark, "v", bucket=20.0, min_val=0.0).collect())
    got = {(r["tag"], r["bucket"]): r["count"] for r in res}
    assert got == {("a", 0.0): 1, ("b", 0.0): 1,
                   ("a", 20.0): 1, ("c", 20.0): 1}


def test_hist_summary_matches_separate_queries(spark):
    """hist_summary's composite row equals the separate avg/stddev
    queries and bucket-quantized percentiles."""
    d = spark.createDataFrame([Row(g="x", v=float(i)) for i in range(100)]
                              + [Row(g="y", v=float(i % 10))
                                 for i in range(50)])
    rows = {r["g"]: r for r in
            (Query.table(d).group_by("g")
             .hist_summary(spark, "v", bucket=10.0, min_val=0.0)
             .collect())}
    x = rows["x"]
    assert x["samples"] == 100
    assert x["sum_value" if "sum_value" in x.__fields__ else "sum_v"] \
        == pytest.approx(4950.0)
    assert x["avg_v"] == pytest.approx(49.5)
    # p50: cum at bucket 40 is 50 >= 50 -> bucket 40.0
    assert x["p50"] == 40.0
    y = rows["y"]
    assert y["samples"] == 50 and y["p50"] == 0.0


def test_correlated_column_invariants(spark):
    """The reference's signature property test (aggregate_test.go:
    25-56, 102-155): with age_str = str(age), every group's key must
    equal the mean of its age values, and within-group percentiles
    must equal the key too (all values in a group are identical)."""
    rows = [Row(age=18 + (i * 7) % 40) for i in range(300)]
    d = spark.createDataFrame(rows).withColumn(
        "age_str", F.col("age").cast("string"))
    got = (Query.table(d).exact_mode().group_by("age_str")
           .agg("age", "avg").agg("age", "percentile",
                                  percentiles=[0.25, 0.5, 0.75])
           .limit(None).execute(spark).collect())
    assert len(got) > 10
    for r in got:
        key = float(r["age_str"])
        assert r["avg_age"] == key
        assert r["p25_age"] == key
        assert r["p50_age"] == key
        assert r["p75_age"] == key


def test_full_population_percentiles(spark):
    """Percentiles against the sorted raw population (reference
    aggregate_test.go:163-187, tolerance 1)."""
    import random
    rng = random.Random(11)
    vals = [rng.randint(0, 1000) for _ in range(2000)]
    d = spark.createDataFrame([Row(v=float(v)) for v in vals])
    r = (Query.table(d).agg("v", "percentile",
                            percentiles=[0.25, 0.5, 0.75])
         .limit(None).execute(spark).collect()[0])
    s = sorted(vals)
    for p in (25, 50, 75):
        want = s[int(len(s) * p / 100)]
        assert abs(r[f"p{p}_v"] - want) <= 1


def test_distinct_values_early_stop_limits_input(spark, tmp_path):
    """The true input-limiting distinct-limit (reference mid-scan
    abort, table_query.go:259-280): once the limit is satisfied,
    later blocks are never OPENED — proven by placing a nonexistent
    path after the satisfying blocks (a full scan would throw)."""
    from pyspark.sql import functions as F

    from sybil_spark.query.builder import distinct_values_early_stop

    paths = []
    for i in range(2):
        (spark.range(100)
         .select((F.col("id") % 50 + i * 1000).alias("u"))
         .coalesce(1).write.parquet(str(tmp_path / f"b{i}")))
        paths.append(str(tmp_path / f"b{i}"))
    blocks = paths + [str(tmp_path / "never-read")]   # does not exist

    out = distinct_values_early_stop(spark, blocks, ["u"], limit=30,
                                     batch_files=1)
    rows = [r["u"] for r in out.collect()]
    assert len(rows) == len(set(rows)) == 30
    assert all(0 <= u < 50 for u in rows)   # all from block 0

    # cardinality below the limit: reads everything it was given
    # (and would fail on the bogus path) -> only pass real blocks
    out2 = distinct_values_early_stop(spark, paths, ["u"], limit=500,
                                      batch_files=1)
    assert out2.count() == 100  # 50 distinct per block, disjoint ranges

    # with a predicate
    out3 = distinct_values_early_stop(
        spark, paths, ["u"], limit=10, batch_files=1,
        predicate=F.col("u") >= 1000)
    vals = [r["u"] for r in out3.collect()]
    assert len(vals) == 10 and all(v >= 1000 for v in vals)


def test_oracles_render_decimal_sums_via_varchar():
    """Invariant scan: no corpus oracle may cast a decimal SUM
    straight to double — DuckDB's direct conversion can be one ulp
    off correct rounding at 16+ significant digits (observed live),
    while Spark's Decimal.toDouble is BigDecimal-correct. Every
    render must round-trip through varchar (corpus._dsum). This scan
    is what keeps the hand-wrapped inline sites from silently losing
    the hardening on the next edit."""
    import re
    from sybil_spark.corpus import ORACLES
    bad = []
    for name, sql in ORACLES.items():
        low = " ".join(sql.lower().split())
        for m in re.finditer(r"cast\(sum\(", low):
            seg = low[m.start():m.start() + 160]
            # a sum whose IMMEDIATE cast is bigint or varchar is safe
            # by construction (integer sums < 2^53 convert exactly;
            # varchar is the mandated decimal render) — without this,
            # an unrelated `as double)` later in the window
            # false-positives (seen live on temperature_mix's sqrt)
            if re.match(r"cast\(sum\((?:[^()]|\([^()]*\))*\) as "
                        r"(bigint|varchar)\)", seg):
                continue
            head = seg.split("as double)")[0]
            if ("as double)" in seg and "as varchar)" not in seg
                    and "as bigint)" not in head[-40:]):
                bad.append((name, seg[:90]))
    assert not bad, bad


def _weighted_percentile_ref(rows, by, pcts):
    """Per group of `by` (None: one group), the smallest v whose
    cumulative weight w reaches p·total, for each p in `pcts`."""
    groups = {}
    for r in rows:
        groups.setdefault(r[by] if by else None, []).append((r.v, r.w))
    out = {}
    for g, pairs in groups.items():
        total, cum, cdf = sum(w for _v, w in pairs), 0, []
        for v, w in sorted(pairs):
            cum += w
            cdf.append((cum, v))
        out[g] = [next(v for c, v in cdf if c >= p * total) for p in pcts]
    return out


def _weighted_percentiles(spark, d, by, pcts):
    """{group (None when ungrouped): [p-th weighted percentile of v]}
    from the query builder."""
    q = (Query.table(d).weight_col("w").group_by(*([by] if by else []))
         .agg("v", "percentile", percentiles=pcts).limit(None)
         .execute(spark))
    cols = [f"p{int(p * 100)}_v" for p in pcts]
    return {r[by] if by else None: [r[c] for c in cols]
            for r in q.collect()}


def test_weighted_percentile_matches_python_reference(spark):
    """Grouped and ungrouped exact weighted percentiles equal a
    pure-Python reference on tie-heavy random rows, and a NULL group
    value is a real group (sybil's missing-value group) that keeps its
    percentiles through compile()'s re-attach."""
    import random

    rnd = random.Random(13)
    rows = [Row(g=rnd.choice(["x", "y", None]),
                v=float(rnd.choice([1, 2, 2, 3, 5, 8])),
                w=rnd.randint(1, 9)) for _ in range(5000)]
    d = spark.createDataFrame(rows).repartition(16)
    pcts = [0.1, 0.5, 0.9]
    got = _weighted_percentiles(spark, d, "g", pcts)
    assert None in got
    assert got == _weighted_percentile_ref(rows, "g", pcts)
    assert _weighted_percentiles(spark, d, None, pcts) == \
        _weighted_percentile_ref(rows, None, pcts)


def test_weighted_percentile_ungrouped_builds_lazily(spark):
    """Building an exact weighted percentile runs no Spark job, on a
    frame with size statistics (spark.range) and on an in-memory
    frame without them, ungrouped or grouped: the query stays a lazy
    DataFrame until the caller's action. The job group's tracker sees
    nothing at build time and the action's jobs afterwards."""
    ranged = spark.range(200).select(
        (F.col("id") % 7).cast("double").alias("v"),
        (F.col("id") % 3 + 1).alias("w"), (F.col("id") % 2).alias("g"))
    rows = ranged.collect()
    local = spark.createDataFrame(rows)
    sc = spark.sparkContext
    for i, (d, by) in enumerate(((ranged, None), (local, None),
                                 (local, "g"))):
        group = f"wp-lazy-build-{i}"
        sc.setJobGroup(group, "weighted percentile build")
        try:
            q = (Query.table(d).weight_col("w")
                 .group_by(*([by] if by else []))
                 .agg("v", "percentile", percentiles=[0.5])
                 .limit(None).execute(spark))
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            got = {r[by] if by else None: [r["p50_v"]] for r in q.collect()}
            assert list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)
        assert got == _weighted_percentile_ref(rows, by, [0.5])


def test_having_filters_groups(spark, df):
    """HAVING applies to aggregated rows before sort/limit; multiple
    calls AND; result columns (aliases) are addressable."""
    all_rows = {r["age_str"]: r for r in
                (Query.table(df).group_by("age_str").agg("age", "avg")
                 .limit(None).execute(spark).collect())}
    floor = min(r["count"] for r in all_rows.values()) + 1
    kept = (Query.table(df).group_by("age_str").agg("age", "avg")
            .having(f"count >= {floor}")
            .limit(None).execute(spark).collect())
    assert {r["age_str"] for r in kept} \
        == {c for c, r in all_rows.items() if r["count"] >= floor}
    assert len(kept) < len(all_rows)
    none = (Query.table(df).group_by("age_str").agg("age", "avg")
            .having(f"count >= {floor}").having("avg_age < -1")
            .limit(None).execute(spark).collect())
    assert none == []


def test_one_sample_group_stddev_is_null(spark):
    """A one-sample group has no sample stddev (n − 1 = 0, W − 1 = 0):
    the default, exact, weighted and hist_summary paths all return
    NULL for it, as stddev_samp does, rather than raise
    DIVIDE_BY_ZERO under ANSI mode — and keep the other group's
    value."""
    d = spark.createDataFrame([("a", 1.0, 2), ("a", 3.0, 1), ("b", 5.0, 1)],
                              "g string, v double, w int")
    raw, weighted = 2.0 ** 0.5, (4.0 / 3.0) ** 0.5
    builds = {
        "default": (lambda q: q.agg("v", "stddev").execute(spark), raw),
        "exact": (lambda q: q.exact_mode().agg("v", "stddev")
                  .execute(spark), raw),
        "weighted": (lambda q: q.weight_col("w").agg("v", "stddev")
                     .execute(spark), weighted),
        "weighted_exact": (lambda q: q.weight_col("w").exact_mode()
                           .agg("v", "stddev").execute(spark), weighted),
        "hist_summary": (lambda q: q.hist_summary(spark, "v", bucket=1.0,
                                                  min_val=0.0), raw),
        "weighted_hist_summary": (
            lambda q: q.weight_col("w").hist_summary(
                spark, "v", bucket=1.0, min_val=0.0), weighted),
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for path, (build, want) in builds.items():
            rows = {r["g"]: r["stddev_v"] for r in
                    build(Query.table(d).group_by("g").limit(None))
                    .collect()}
            assert rows["b"] is None, path
            assert rows["a"] == pytest.approx(want), path
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
