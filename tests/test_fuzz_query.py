"""Property-based cross-engine fuzz: random small tables + random
Query-builder specs, compared bit-exact against DuckDB running the
equivalent SQL — the corpus correctness gate generalized from fixed
queries to the query-spec space (filters × grouping × aggregations ×
null patterns). exact_mode makes float aggregates order-independent,
so any mismatch is a real semantics bug, not float noise."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import (HealthCheck, example, given, settings,
                        strategies as st)

from sybil_spark.query.builder import Query

_DEC = "decimal(38,6)"


def _dsum(expr: str) -> str:
    # mirrors corpus._dsum incl. the varchar round-trip: DuckDB's
    # direct decimal->double cast can be one ulp off correct rounding
    # at 16+ significant digits — keep the fuzz oracle identical to
    # the corpus oracle so widened value ranges can't reintroduce it
    return (f"cast(cast(sum(cast({expr} as {_DEC})) as varchar) "
            "as double)")


rows_st = st.lists(
    st.tuples(
        st.integers(min_value=-20, max_value=20),            # a (int)
        st.one_of(st.none(),
                  st.integers(min_value=-1000, max_value=1000)
                    .map(lambda x: x / 8.0)),                # v (double|null)
        st.sampled_from(["red", "green", "blue", "teal"]),   # g (str)
    ),
    min_size=1, max_size=60)

int_filter_st = st.one_of(
    st.none(),
    st.tuples(st.sampled_from(["gt", "lt", "ge", "le", "eq", "neq"]),
              st.integers(min_value=-15, max_value=15)))

str_filter_st = st.one_of(
    st.none(),
    st.tuples(st.sampled_from(["eq", "neq"]),
              st.sampled_from(["red", "green", "purple"])))

aggs_st = st.lists(st.sampled_from(["avg", "sum", "min", "max"]),
                   min_size=0, max_size=3, unique=True)


@pytest.fixture(scope="module")
def fuzz_spark(spark):
    return spark


@given(rows=rows_st, int_f=int_filter_st, str_f=str_filter_st,
       grouped=st.booleans(), aggs=aggs_st)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_query_builder_matches_duckdb(fuzz_spark, rows, int_f, str_f,
                                      grouped, aggs):
    spark = fuzz_spark
    pdf = pd.DataFrame(rows, columns=["a", "v", "g"])
    # pin dtypes: an all-null hypothesis column would register into
    # DuckDB as `object` and get a non-double type inferred
    pdf["v"] = pdf["v"].astype("float64")
    sdf = spark.createDataFrame(
        [(int(a), None if v is None else float(v), g) for a, v, g in rows],
        schema="a long, v double, g string")

    q = Query.table(sdf).exact_mode().limit(None)
    preds = []
    if int_f:
        op, val = int_f
        q = q.int_filter("a", op, val)
        sql_op = {"gt": ">", "lt": "<", "ge": ">=", "le": "<=",
                  "eq": "=", "neq": "<>"}[op]
        preds.append(f"a {sql_op} {val}")
    if str_f:
        op, val = str_f
        q = q.str_filter("g", op, val)
        preds.append(f"g {'=' if op == 'eq' else '<>'} '{val}'")
    where = f"where {' and '.join(preds)}" if preds else ""

    cols, sels = [], ["count(*) as count"]
    if grouped:
        q = q.group_by("g")
        cols = ["g"]
    for op in aggs:
        q = q.agg("v", op)
        name = f"{op}_v"
        if op == "avg":
            sels.append(f"{_dsum('v')}/count(v) as {name}")
        elif op == "sum":
            sels.append(f"{_dsum('v')} as {name}")
        else:
            sels.append(f"{op}(v) as {name}")

    sql = f"select {', '.join(cols + sels)} from t {where}"
    if grouped:
        sql += " group by g"

    con = duckdb.connect()
    con.register("t", pdf)
    oracle = con.execute(sql).df()
    got = q.execute(spark).toPandas()

    def norm(df):
        c = sorted(df.columns)
        df = df[c]
        kinds = ["f" if df[x].dtype.kind == "f" else
                 "i" if df[x].dtype.kind in "iu" else "o" for x in c]
        rows_ = sorted((tuple(r) for r in
                        df.itertuples(index=False, name=None)),
                       key=lambda t: tuple((x is None or x != x, str(x))
                                           for x in t))
        return c, kinds, rows_

    gc, gk, gr = norm(got)
    oc, ok, orr = norm(oracle)
    assert gc == oc
    assert gk == ok, f"dtype kinds {gk} vs {ok}"
    assert len(gr) == len(orr), f"rowcount {len(gr)} vs {len(orr)}"
    for rg, ro in zip(gr, orr):
        for x, y in zip(rg, ro):
            if isinstance(x, float) or isinstance(y, float):
                ok_val = (x != x and y != y) or float(x) == float(y) \
                    if x is not None and y is not None \
                    else (x is None) == (y is None)
            else:
                ok_val = x == y
            assert ok_val, f"{rg} != {ro}"


time_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=-50_000, max_value=50_000),    # t (long)
        st.one_of(st.none(),
                  st.integers(min_value=-1000, max_value=1000)
                    .map(lambda x: x / 8.0)),                # v
        st.sampled_from(["u1", "u2", "u3"]),                 # u (str)
    ),
    min_size=1, max_size=60)


@given(rows=time_rows_st, bucket=st.sampled_from([7, 100, 3600]),
       distinct=st.booleans())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_time_bucket_matches_duckdb(fuzz_spark, rows, bucket, distinct):
    """Time rollup (t - t % bucket, truncation toward zero — negative
    timestamps included) and count-distinct, vs DuckDB."""
    spark = fuzz_spark
    pdf = pd.DataFrame(rows, columns=["t", "v", "u"])
    pdf["v"] = pdf["v"].astype("float64")
    sdf = spark.createDataFrame(
        [(int(t), None if v is None else float(v), u) for t, v, u in rows],
        schema="t long, v double, u string")
    q = (Query.table(sdf).exact_mode().limit(None)
         .time_col("t", bucket).agg("v", "avg"))
    sels = [f"t - t % {bucket} as tbucket", "count(*) as count",
            f"{_dsum('v')}/count(v) as avg_v"]
    if distinct:
        q = q.distinct_cols("u")
        sels.append("count(distinct u) as distinct")
    con = duckdb.connect()
    con.register("t", pdf)
    oracle = con.execute(
        f"select {', '.join(sels)} from t group by 1").df()
    got = q.execute(spark).toPandas()
    assert sorted(got.columns) == sorted(oracle.columns)
    g = got.sort_values("tbucket").reset_index(drop=True)[
        sorted(got.columns)]
    o = oracle.sort_values("tbucket").reset_index(drop=True)[
        sorted(oracle.columns)]
    assert len(g) == len(o)
    for c in g.columns:
        for x, y in zip(g[c], o[c]):
            if x is None or (isinstance(x, float) and x != x):
                assert y is None or (isinstance(y, float) and y != y)
            else:
                assert x == y, f"{c}: {x} != {y}"


wrows_st = st.lists(
    st.tuples(
        st.one_of(st.none(),
                  st.integers(min_value=-800, max_value=800)
                    .map(lambda x: x / 4.0)),                # v
        st.one_of(st.none(),
                  st.integers(min_value=1, max_value=5)),    # w (weight)
        st.sampled_from(["x", "y", "z"]),                    # g
    ),
    min_size=1, max_size=50)


@given(rows=wrows_st, grouped=st.booleans())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_weighted_agg_matches_duckdb(fuzz_spark, rows, grouped):
    """Weighted Count/Samples/avg semantics (null weights default to
    1, avg denominator counts weight only where the value is
    non-null) vs DuckDB."""
    spark = fuzz_spark
    pdf = pd.DataFrame(rows, columns=["v", "w", "g"])
    pdf["v"] = pdf["v"].astype("float64")
    pdf["w"] = pdf["w"].astype("Int64")
    sdf = spark.createDataFrame(
        [(None if v is None else float(v),
          None if w is None else int(w), g) for v, w, g in rows],
        schema="v double, w long, g string")
    q = (Query.table(sdf).exact_mode().weight_col("w")
         .agg("v", "avg").limit(None))
    wexpr = "coalesce(cast(w as double), 1.0)"
    sels = [f"{_dsum(wexpr)} as count", "count(*) as samples",
            f"{_dsum(f'v * {wexpr}')}"
            f" / cast(cast(sum(cast(case when v is not null"
            f" then {wexpr} end as {_DEC})) as varchar)"
            f" as double) as avg_v"]
    cols = []
    if grouped:
        q = q.group_by("g")
        cols = ["g"]
    con = duckdb.connect()
    con.register("t", pdf)
    sql = f"select {', '.join(cols + sels)} from t"
    if grouped:
        sql += " group by g"
    oracle = con.execute(sql).df()
    got = q.execute(spark).toPandas()
    assert sorted(got.columns) == sorted(oracle.columns)
    key = (lambda df: df.sort_values(cols or ["count"])
           .reset_index(drop=True)[sorted(df.columns)])
    g_, o_ = key(got), key(oracle)
    assert len(g_) == len(o_)
    for c in g_.columns:
        for x, y in zip(g_[c], o_[c]):
            if x is None or (isinstance(x, float) and x != x):
                assert y is None or (isinstance(y, float) and y != y), \
                    f"{c}: {x} != {y}"
            else:
                assert x == y, f"{c}: {x} != {y}"


set_rows_st = st.lists(
    st.tuples(
        st.lists(st.sampled_from(["p", "q", "r", "s"]),
                 min_size=0, max_size=4),                    # tags
        st.integers(min_value=-50, max_value=50),            # a
    ),
    min_size=1, max_size=40)


@given(rows=set_rows_st,
       set_f=st.one_of(st.none(),
                       st.tuples(st.sampled_from(["in", "nin"]),
                                 st.sampled_from(["p", "q", "zz"]))),
       group_elems=st.booleans())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_set_columns_match_duckdb(fuzz_spark, rows, set_f, group_elems):
    """Set-column semantics: in/nin membership filters see the whole
    array; group_by_set explodes AFTER filters, one contribution per
    element occurrence — vs DuckDB list_contains/unnest."""
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        [(list(tags), int(a)) for tags, a in rows],
        schema="tags array<string>, a long")
    q = Query.table(sdf).limit(None)
    where = ""
    if set_f:
        op, val = set_f
        q = q.set_filter("tags", op, val)
        neg = "" if op == "in" else "not "
        where = f"where {neg}list_contains(tags, '{val}')"
    if group_elems:
        q = q.group_by_set("tags", "tag")
        sql = (f"select tag, count(*) as count from "
               f"(select unnest(tags) as tag from t {where}) e group by 1")
    else:
        sql = f"select count(*) as count from t {where}"
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        [(list(tags), int(a)) for tags, a in rows], columns=["tags", "a"]))
    oracle = con.execute(sql).df()
    got = q.execute(spark).toPandas()
    key = lambda df: sorted(  # noqa: E731
        (tuple(r) for r in df[sorted(df.columns)]
         .itertuples(index=False, name=None)),
        key=lambda tt: tuple(str(x) for x in tt))
    assert sorted(got.columns) == sorted(oracle.columns)
    assert key(got) == key(oracle)


# ---------------------------------------------------------------------------
# temporal operators vs DuckDB (asof / range join / sessionize)
# ---------------------------------------------------------------------------

def _cmp_frames(got: pd.DataFrame, oracle: pd.DataFrame) -> None:
    """Order-insensitive exact compare; numerics unified to float
    (nullable int64 lands as float64 on one side and Int64/object on
    the other depending on engine — value equality is what matters,
    and these fuzz ranges are exact in float64)."""
    assert sorted(got.columns) == sorted(oracle.columns)

    def rows(df):
        out = []
        for r in df[sorted(df.columns)].itertuples(index=False, name=None):
            row = []
            for x in r:
                if pd.isna(x):
                    row.append(None)
                elif isinstance(x, (int, float)):
                    row.append(float(x))
                else:
                    row.append(x)
            out.append(tuple(row))
        return sorted(out, key=lambda t: [(v is None, str(v)) for v in t])

    assert rows(got) == rows(oracle)


_tkeys = ["k1", "k2", "k3"]

asof_side_st = st.lists(
    st.tuples(st.sampled_from(_tkeys),
              st.integers(min_value=-100, max_value=100)),
    min_size=1, max_size=40)


@given(lrows=asof_side_st, rrows=asof_side_st)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_asof_join_matches_duckdb(fuzz_spark, lrows, rrows):
    """operators.temporal.asof_join (union + window, 1 shuffle) vs
    DuckDB ASOF LEFT JOIN. Right payload is a pure function of
    (k, t) so duplicate right timestamps can't make the comparison
    ambiguous — both engines may pick either duplicate."""
    from sybil_spark.operators.temporal import asof_join
    spark = fuzz_spark
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        schema="k string, t long, li long")
    right = spark.createDataFrame(
        [(k, t, float((t * 3) % 11)) for k, t in rrows],
        schema="k string, t long, rv double")
    got = asof_join(left, right, ["k"], "t", "t",
                    right_cols=["rv"]).toPandas()
    con = duckdb.connect()
    con.register("l", pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        columns=["k", "t", "li"]))
    con.register("r", pd.DataFrame(
        [(k, t, float((t * 3) % 11)) for k, t in rrows],
        columns=["k", "t", "rv"]))
    oracle = con.execute("""
        select l.k, l.t, l.li, r.t as t_r, r.rv as rv_r
        from l asof left join r on l.k = r.k and l.t >= r.t""").df()
    _cmp_frames(got, oracle)


interval_st = st.lists(
    st.tuples(st.integers(min_value=-80, max_value=80),   # start
              st.integers(min_value=0, max_value=40),     # length
              st.sampled_from(_tkeys)),
    min_size=1, max_size=30)

points_st = st.lists(
    st.tuples(st.integers(min_value=-100, max_value=100),
              st.sampled_from(_tkeys)),
    min_size=1, max_size=40)


@given(prows=points_st, irows=interval_st,
       bucket=st.sampled_from([1.0, 7.0, 50.0]), keyed=st.booleans())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_range_join_matches_duckdb(fuzz_spark, prows, irows, bucket, keyed):
    """operators.temporal.range_join (bucketized equi-join, boundary
    rows re-filtered exactly) vs the naive inequality join — result
    must be bucket-size independent."""
    from sybil_spark.operators.temporal import range_join
    spark = fuzz_spark
    points = spark.createDataFrame(
        [(t, k, i) for i, (t, k) in enumerate(prows)],
        schema="t long, k string, pid long")
    ivals = spark.createDataFrame(
        [(s, s + ln, k, j) for j, (s, ln, k) in enumerate(irows)],
        schema="s long, e long, k string, iid long")
    got = range_join(points, "t", ivals, "s", "e",
                     on=["k"] if keyed else None,
                     bucket=bucket).toPandas()
    con = duckdb.connect()
    con.register("p", pd.DataFrame(
        [(t, k, i) for i, (t, k) in enumerate(prows)],
        columns=["t", "k", "pid"]))
    con.register("i", pd.DataFrame(
        [(s, s + ln, k, j) for j, (s, ln, k) in enumerate(irows)],
        columns=["s", "e", "k", "iid"]))
    if keyed:
        sql = """select p.t, p.k, p.pid, i.s, i.e, i.iid
                 from p join i on p.k = i.k and p.t >= i.s and p.t < i.e"""
    else:
        sql = """select p.t, p.k as k, p.pid, i.s, i.e, i.k as k_i, i.iid
                 from p join i on p.t >= i.s and p.t < i.e"""
    oracle = con.execute(sql).df()
    if not keyed:
        # unkeyed range_join keeps both key columns; Spark dedupes
        # the name — align to the SQL aliases
        got.columns = ["t", "k", "pid", "s", "e", "k_i", "iid"]
    _cmp_frames(got, oracle)


sess_rows_st = st.lists(
    st.tuples(st.sampled_from(_tkeys),
              st.integers(min_value=0, max_value=200)),
    min_size=1, max_size=50)


@given(rows=sess_rows_st, gap=st.sampled_from([1, 5, 30]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_sessionize_matches_duckdb(fuzz_spark, rows, gap):
    """operators.temporal.sessionize (lag-flag + running sum) vs the
    same construction in DuckDB SQL. Duplicate timestamps are safe
    without a tiebreak: a 0 gap never starts a session, so every
    ordering of ties yields the same (key, sess) partition."""
    from sybil_spark.operators.temporal import sessionize
    spark = fuzz_spark
    sdf = spark.createDataFrame(rows, schema="k string, t long")
    got = sessionize(sdf, "k", "t", gap_s=gap).toPandas()
    con = duckdb.connect()
    con.register("x", pd.DataFrame(rows, columns=["k", "t"]))
    oracle = con.execute(f"""
        with o as (
          select k, t,
                 case when lag(t) over w is null
                       or t - lag(t) over w > {gap} then 1 else 0 end as nw
          from x window w as (partition by k order by t)),
        s as (
          select k, t,
                 cast(sum(nw) over (partition by k order by t
                                    rows unbounded preceding) as bigint)
                   as sess
          from o)
        select k, sess, count(*) as n_events,
               min(t) as session_start, max(t) as session_end
        from s group by 1, 2""").df()
    _cmp_frames(got, oracle)


# ---------------------------------------------------------------------------
# histogram bucket math vs DuckDB (negative values, fractional widths)
# ---------------------------------------------------------------------------

hist_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=-500, max_value=500)
          .map(lambda x: x / 4.0),                           # v
        st.sampled_from(["red", "green", "blue"]),           # g
    ),
    min_size=1, max_size=60)


@given(rows=hist_rows_st, bucket=st.sampled_from([0.5, 3.0, 25.0]),
       base=st.sampled_from([0.0, -100.0, 7.5]),
       grouped=st.booleans())
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_hist_bucket_math_matches_duckdb(fuzz_spark, rows, bucket, base,
                                         grouped):
    """Query.hist bucket quantization — floor((v-base)/w)*w+base —
    against the identical SQL formula, over negative values and
    fractional widths/bases (where floor-vs-truncate bugs live)."""
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        [(float(v), g) for v, g in rows], schema="v double, g string")
    q = Query.table(sdf)
    if grouped:
        q = q.group_by("g")
    got = q.hist(spark, "v", bucket=bucket, min_val=base).toPandas()
    gsel = "g, " if grouped else ""
    sql = f"""
        select {gsel}
               cast(floor((v - ({base}))/{bucket})*{bucket} + ({base})
                    as double) as bucket,
               count(*) as count
        from t where v is not null group by {'1, 2' if grouped else '1'}"""
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        [(float(v), g) for v, g in rows], columns=["v", "g"]))
    _cmp_frames(got, con.execute(sql).df())


# ---------------------------------------------------------------------------
# pivot / unpivot vs DuckDB conditional aggregation (NULL values and
# out-of-list event types included — the fixture data has neither)
# ---------------------------------------------------------------------------

_PIV_TYPES = ["click", "error", "view"]

pivot_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1000),            # t (long)
        st.sampled_from(_PIV_TYPES + ["other"]),             # type
        st.one_of(st.none(),
                  st.integers(min_value=-1000, max_value=1000)
                    .map(lambda x: x / 8.0)),                # v (double|null)
    ),
    min_size=1, max_size=60)


@given(rows=pivot_rows_st, unpivot=st.booleans())
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_pivot_unpivot_matches_duckdb(fuzz_spark, rows, unpivot):
    """groupBy().pivot(explicit list) and its unpivot inverse vs the
    conditional-aggregation SQL, over NULL values (cells whose rows
    are all-NULL must stay NULL / be dropped identically) and a type
    OUTSIDE the pivot list (contributes a day group but no cell)."""
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        [(int(t), ty, None if v is None else float(v))
         for t, ty, v in rows],
        schema="time long, event_type string, value double")
    piv = (sdf.groupBy((F.col("time") - F.col("time") % 100)
                       .alias("day"))
              .pivot("event_type", _PIV_TYPES)
              .agg(F.sum(F.col("value").cast("decimal(38,6)"))
                    .cast("double") / F.count("value")))
    pdf = pd.DataFrame(
        [(int(t), ty, None if v is None else float(v))
         for t, ty, v in rows],
        columns=["time", "event_type", "value"])
    pdf["value"] = pdf["value"].astype("float64")
    con = duckdb.connect()
    con.register("t", pdf)
    cell_sql = " , ".join(
        _dsum(f"case when event_type = '{ty}' then value end")
        + f" / count(case when event_type = '{ty}' then value end)"
        + f" as {ty}" for ty in _PIV_TYPES)
    if not unpivot:
        got = piv.toPandas()
        oracle = con.execute(
            f"select time - time % 100 as day, {cell_sql} "
            f"from t group by 1").df()
    else:
        got = (piv.unpivot("day", _PIV_TYPES, "event_type", "avg_value")
                  .where(F.col("avg_value").isNotNull()).toPandas())
        types_in = ", ".join(f"'{ty}'" for ty in _PIV_TYPES)
        oracle = con.execute(
            f"select time - time % 100 as day, event_type, "
            f"{_dsum('value')} / count(value) as avg_value "
            f"from t where event_type in ({types_in}) "
            f"group by 1, 2 having count(value) > 0").df()
    _cmp_frames(got, oracle)


# ---------------------------------------------------------------------------
# int8 quantization vs DuckDB (zero vectors, negatives, absmax elements)
# ---------------------------------------------------------------------------

vec_st = st.lists(
    st.lists(st.integers(min_value=-4000, max_value=4000)
               .map(lambda x: x / 16.0),
             min_size=1, max_size=8),
    min_size=1, max_size=20).map(
        # pad to uniform dim (ragged lists aren't a vector column)
        lambda vs: [v + [0.0] * (max(len(x) for x in vs) - len(v))
                    for v in vs])


@given(vecs=vec_st)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_quantize_int8_matches_duckdb(fuzz_spark, vecs):
    """quantize_int8 (scale + codes) vs the corpus oracle formula —
    including all-zero vectors (scale 0 -> zero codes, no division)
    and exact-absmax elements (codes must land on ±127, not ±128)."""
    from sybil_spark.operators import similarity
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        schema="vec_id long, embedding array<double>")
    got = (similarity.quantize_int8(sdf, "embedding")
           .toPandas().sort_values("id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(vecs)],
        columns=["vec_id", "embedding"]))
    oracle = con.execute("""
        select vec_id as id, s as scale,
               list_transform(embedding,
                 x -> case when s = 0 then 0
                           else cast(floor(x / s + 0.5) as int) end) as qvec
        from (select vec_id, embedding,
                     list_max(list_transform(embedding, x -> abs(x)))/127.0
                       as s
              from t)
        order by id""").df().reset_index(drop=True)
    assert len(got) == len(oracle)
    for grow, orow in zip(got.itertuples(), oracle.itertuples()):
        assert grow.id == orow.id
        assert float(grow.scale) == float(orow.scale)
        gq, oq = list(grow.qvec), list(orow.qvec)
        assert gq == oq, f"id {grow.id}: {gq} != {oq}"
        assert all(-127 <= c <= 127 for c in gq)


# ---------------------------------------------------------------------------
# portable-hash dedup family: random corpora vs the corpus oracles
# ---------------------------------------------------------------------------

_vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
          "theta"]

#: documents built from a tiny vocab so shingle collisions are dense;
#: 1-2-token docs exercise the sentinel-padded short-doc path. Empty
#: strings are excluded on purpose: both engines tokenize '' as one
#: empty token, which no real tokenizer would emit — the dedup
#: pipelines define their contract for non-empty text only.
docs_st = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=10)
      .map(" ".join),
    min_size=1, max_size=12)


def _register_docs(texts):
    pdf = pd.DataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)],
        columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    return pdf, con


@given(texts=docs_st)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_minhash_lsh_matches_duckdb(fuzz_spark, texts):
    """The FULL portable MinHash+LSH pipeline (token md5 hash →
    shingle fold → 64 permutations → 16-band fold → candidate join →
    exact Jaccard) on random corpora must equal the corpus oracle
    SQL run on the same documents — the corpus gate generalized from
    one fixed table to the doc-corpus space (dup clusters, short
    docs, repeated texts)."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = dedup.minhash_dedup_pairs(sdf, "doc_id", "text",
                                    num_hashes=64, bands=16,
                                    portable=True).toPandas()
    oracle = con.execute(ORACLES["minhash_lsh"]).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_simhash_matches_duckdb(fuzz_spark, texts):
    """Portable SimHash (md5 token hash → per-bit votes → packed
    60-bit signature → 4x15-bit banding → Hamming filter) on random
    corpora vs the corpus oracle SQL — pins the restructured
    two-stage vote aggregation to the engine-independent definition
    for tie votes, repeated tokens, and single-token docs."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    c = dedup.simhash_candidates(sdf, "doc_id", "text",
                                 bands=4, bits=60, portable=True)
    got = (c.withColumn("hamming", dedup.hamming64(F.col("sig_a"),
                                                   F.col("sig_b")))
            .where(F.col("hamming") <= 8)
            .select("id_a", "id_b", "hamming").toPandas())
    oracle = con.execute(ORACLES["simhash_dup"]).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_ngram_jaccard_matches_duckdb(fuzz_spark, texts):
    """Exact n-gram Jaccard on random corpora vs the corpus oracle:
    the posting-list join + hash-set intersection must produce the
    identical pair set AND identical double-precision jaccard values
    as DuckDB's string-shingle join — including duplicate texts
    (jaccard 1.0) and sub-shingle-length docs (no shingles, no
    pairs)."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = dedup.jaccard_pairs(sdf, "doc_id", "text", shingle_n=3,
                              threshold=0.1).toPandas()
    oracle = con.execute(ORACLES["ngram_jaccard"]).df()
    _cmp_frames(got, oracle)


@given(corpus=docs_st, bench=docs_st,
       min_overlap=st.sampled_from([1, 2, 4]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_decontaminate_matches_duckdb(fuzz_spark, corpus, bench,
                                      min_overlap):
    """Benchmark decontamination on random (corpus, bench) pairs vs
    a DuckDB set-overlap oracle: a corpus doc survives iff it shares
    fewer than min_overlap DISTINCT trigram shingles with the bench
    set — sub-shingle-length docs on either side contribute nothing
    (full_only semantics both engines)."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    cpdf = pd.DataFrame([(f"c{i}", t) for i, t in enumerate(corpus)],
                        columns=["doc_id", "text"])
    bpdf = pd.DataFrame([(f"b{i}", t) for i, t in enumerate(bench)],
                        columns=["doc_id", "text"])
    csdf, bsdf = spark.createDataFrame(cpdf), spark.createDataFrame(bpdf)
    got = (dedup.decontaminate(csdf, "doc_id", "text", bsdf, "doc_id",
                               "text", min_overlap=min_overlap)
           .select("doc_id").toPandas())
    con = duckdb.connect()
    con.register("corpus", cpdf)
    con.register("bench", bpdf)
    oracle = con.execute(f"""
        with cs as (select doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(t)-2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) sh
                    from (select doc_id, string_split(text, ' ') t
                          from corpus)),
        bs as (select distinct unnest(list_distinct(list_transform(
                      generate_series(1, len(t)-2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) sh
               from (select string_split(text, ' ') t from bench)),
        hits as (select cs.doc_id, count(*) c
                 from cs join bs on cs.sh = bs.sh group by 1)
        select doc_id from corpus
        where doc_id not in
              (select doc_id from hits where c >= {min_overlap})
        """).df()
    _cmp_frames(got, oracle)


#: adventurous text: punctuation stuck to tokens, case variation,
#: unicode, digits — the shapes real web text throws at tokenizers.
#: Single-space joined (the reference's set/token separator).
_words = ["the", "The", "a,b", "of.", "Spark!", "naïve", "x9",
          "CAFÉ", "--", "(it)", "l'eau", "日本語"]

texty_st = st.lists(
    st.lists(st.sampled_from(_words), min_size=1, max_size=12)
      .map(" ".join),
    min_size=1, max_size=10)


@given(texts=texty_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_text_primitives_match_duckdb(fuzz_spark, texts):
    """Token counting, char counts, stopword ratios, and md5
    fingerprints on punctuation/unicode/case-noisy text vs DuckDB —
    pins that the whitespace tokenizer, length semantics (characters,
    not bytes), and hex casing agree across engines on text the
    clean synthetic corpus never exercises."""
    from sybil_spark.functions import text as T
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = sdf.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tok"),
        T.char_count(F.col("text")).alias("n_chars"),
        T.stopword_count(F.col("text")).alias("n_stop"),
        T.fingerprint(F.col("text"), 4).alias("fp"),
    ).toPandas()
    oracle = con.execute("""
        select doc_id,
               cast(len(string_split(text, ' ')) as int) as n_tok,
               cast(length(text) as int) as n_chars,
               cast(len(list_filter(string_split(text, ' '),
                    x -> x in ('the','a','of','and','in','to','is',
                               'it','that','for'))) as int) as n_stop,
               substr(md5(text), 1, 4) as fp
        from documents""").df()
    _cmp_frames(got, oracle)


@given(texts=st.lists(
    st.lists(st.sampled_from(["spam", "ham", "eggs"]),
             min_size=3, max_size=14).map(" ".join),
    min_size=1, max_size=10))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_repetition_ratio_matches_duckdb(fuzz_spark, texts):
    """1 - distinct/total trigram ratio on a 3-word alphabet (dense
    repeats by construction) must match DuckDB's list arithmetic
    double-for-double — the division operand order and the
    distinct-count semantics are the parts that could drift."""
    from sybil_spark.functions import text as T
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = sdf.select(
        "doc_id", T.repetition_ratio(F.col("text")).alias("rep")
    ).toPandas()
    oracle = con.execute("""
        with g as (select doc_id,
                          list_transform(generate_series(1,
                              len(string_split(text, ' ')) - 2),
                              i -> string_split(text, ' ')[i] || ' '
                                   || string_split(text, ' ')[i+1] || ' '
                                   || string_split(text, ' ')[i+2]) as ng
                   from documents)
        select doc_id,
               1.0 - cast(len(list_distinct(ng)) as double)
                     / cast(len(ng) as double) as rep
        from g""").df()
    _cmp_frames(got, oracle)


@given(texts=docs_st, dup_first=st.booleans(),
       span_words=st.sampled_from([2, 3, 5]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_span_dedup_matches_duckdb(fuzz_spark, texts, dup_first,
                                   span_words):
    """Span-level exact substring dedup on random tiny-vocab corpora
    (dense aligned-span collisions; `dup_first` plants a whole-doc
    duplicate so the n_kept=0 / dedup_text='' path fuzzes too) vs a
    DuckDB split → first-occurrence-window → ordered-string_agg
    oracle — pair set, counts, and the reassembled text all
    bit-exact. Generalizes the fixed corpus oracle over span width."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    if dup_first:
        texts = texts + [texts[0]]
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = dedup.span_dedup(sdf, "doc_id", "text",
                           span_words=span_words).toPandas()
    w = span_words
    oracle = con.execute(f"""
        with w as (select doc_id, string_split(text, ' ') as t
                   from documents),
        sp0 as (select doc_id, t,
                       unnest(generate_series(0, (len(t)+{w-1})//{w} - 1))
                         as pos
                from w),
        sp as (select doc_id, pos,
                      array_to_string(t[pos*{w}+1 : pos*{w}+{w}], ' ')
                        as span
               from sp0),
        k as (select sp.*, row_number() over
                   (partition by span order by doc_id, pos) as rn
              from sp)
        select doc_id, count(*) as n_spans,
               cast(sum(case when rn = 1 then 1 else 0 end) as bigint)
                 as n_kept,
               coalesce(string_agg(case when rn = 1 then span end,
                                   ' ' order by pos), '') as dedup_text
        from k group by doc_id
        """).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st, span_words=st.sampled_from([2, 3, 5]),
       mod=st.sampled_from([1, 2, 4]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_span_first_flags_collision_adversarial(fuzz_spark, texts,
                                                span_words, mod):
    """span_first_flags (the hash-keyed kept-flag pass the streaming
    span leg runs) vs the text-keyed row_number flags on random
    corpora WITH A DELIBERATELY WEAK HASH (xxhash64 mod 1/2/4 — mod 1
    sends EVERY span to one hash group): cross-span collisions flood
    the re-check path, and the first-occurrence flags must still be
    identical. This is the collision-adversarial proof that a real
    64-bit collision can never cut a first occurrence."""
    from pyspark.sql import Window

    from sybil_spark.operators import dedup
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i:03d}" for i in range(len(texts))],
                      "text": texts}))
    ex = dedup.doc_spans(sdf, "doc_id", "text", span_words)
    weak = dedup.span_first_flags(
        ex, "doc_id",
        hash_fn=lambda c: F.pmod(F.xxhash64(c), F.lit(mod)))
    w = Window.partitionBy("span").orderBy("doc_id", "pos")
    oracle = (ex.withColumn("__rn", F.row_number().over(w))
                .select("doc_id", "pos",
                        (F.col("__rn") == 1).alias("__kept")))
    got = {(r["doc_id"], r["pos"]): r["__kept"] for r in weak.collect()}
    exp = {(r["doc_id"], r["pos"]): r["__kept"] for r in oracle.collect()}
    assert got == exp


@given(texts=docs_st, window_words=st.sampled_from([2, 3, 5]),
       mod=st.sampled_from([1, 2, 4]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_span_dup_rows_collision_adversarial(fuzz_spark, texts,
                                             window_words, mod):
    """span_dup_rows (the dup-only hash plan line_dedup uses) vs
    the text-keyed row_number dup set, under a deliberately weak
    hash flooding the re-check path with cross-span collisions — the
    dup SET must be identical: no first occurrence cut, no duplicate
    missed. Runs on stride-1 windows (the consumer's own candidate
    generator), where unique-window mass dominates."""
    from pyspark.sql import Window

    from sybil_spark.operators import dedup
    spark = fuzz_spark
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i:03d}" for i in range(len(texts))],
                      "text": texts}))
    ex = dedup.doc_windows(sdf, "doc_id", "text", window_words) \
        .withColumnRenamed("doc_id", "__id")
    weak = dedup.span_dup_rows(
        ex, hash_fn=lambda c: F.pmod(F.xxhash64(c), F.lit(mod)))
    w = Window.partitionBy("span").orderBy("__id", "pos")
    oracle = (ex.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") > 1))
    got = {(r["__id"], r["pos"]) for r in weak.collect()}
    exp = {(r["__id"], r["pos"]) for r in oracle.collect()}
    assert got == exp


@given(texts=docs_st,
       spec=st.sampled_from([(4, 0), (4, 1), (5, 2), (3, 2)]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_chunk_documents_matches_duckdb(fuzz_spark, texts, spec):
    """Sliding-window chunking on random corpora vs a DuckDB
    generate_series + list-slice oracle across (max_words, overlap)
    shapes — chunk ids, texts, and word counts bit-exact."""
    from sybil_spark.operators.sampling import chunk_documents
    spark = fuzz_spark
    mx, ov = spec
    stride = mx - ov
    pdf, con = _register_docs(texts)
    got = chunk_documents(spark.createDataFrame(pdf), "doc_id", "text",
                          max_words=mx, overlap=ov).toPandas()
    oracle = con.execute(f"""
        with w as (select doc_id, string_split(text, ' ') as t
                   from documents),
        c0 as (select doc_id, t,
                      unnest(generate_series(
                          0, (greatest(len(t)-{mx}, 0) + {stride - 1})
                             //{stride})) as chunk_id
               from w),
        sel as (select doc_id, chunk_id,
                       t[chunk_id*{stride}+1 : chunk_id*{stride}+{mx}]
                         as wsel
                from c0)
        select doc_id, chunk_id,
               array_to_string(wsel, ' ') as chunk_text,
               cast(len(wsel) as int) as n_words
        from sel""").df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_doc_logprob_matches_duckdb(fuzz_spark, texts):
    """Self-scored unigram logprob on random corpora vs the corpus
    oracle SQL — the decimal(38,6) pre-sum quantization must make the
    per-doc sums order-independent and bit-exact across engines (this
    is also the standing probe for a Spark-vs-DuckDB libm ln() ulp
    divergence landing on a rounding boundary)."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import quality
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    got = quality.unigram_logprob(spark.createDataFrame(pdf),
                                  "doc_id", "text").toPandas()
    oracle = con.execute(ORACLES["doc_logprob"]).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_tfidf_terms_matches_duckdb(fuzz_spark, texts):
    """tf-idf top-terms on random corpora vs the corpus oracle —
    quantized scores, ranks, and tie-breaks bit-exact (dense repeated
    vocab makes idf ties and score ties common, exercising the
    decimal(38,6) rank contract)."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import quality
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    got = quality.tfidf_top_terms(spark.createDataFrame(pdf),
                                  "doc_id", "text", k=3).toPandas()
    oracle = con.execute(ORACLES["tfidf_terms"]).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_bigram_logprob_matches_duckdb(fuzz_spark, texts):
    """Self-scored bigram logprob on random corpora vs the corpus
    oracle — conditional-count joins and decimal-quantized sums
    bit-exact (single-token docs absent from both sides)."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import quality
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    got = quality.bigram_logprob(spark.createDataFrame(pdf),
                                 "doc_id", "text").toPandas()
    oracle = con.execute(ORACLES["bigram_logprob"]).df()
    _cmp_frames(got, oracle)


vecs_st = st.lists(
    st.lists(st.integers(min_value=-8, max_value=8).map(lambda x: x / 4.0),
             min_size=4, max_size=4)
      .filter(lambda v: any(x != 0 for x in v)),
    min_size=3, max_size=24)


@given(vecs=vecs_st, thr=st.sampled_from([0.5, 0.8, 0.95]))
# vec 3 ties both centroids at cosine exactly 0 (its dot with
# centroid 1 is 1.875 - 1.875); the tie must go to centroid 0
@example(vecs=[[0.0, 2.0, 0.0, 0.0], [0.0, -1.25, 1.5, 1.25],
               [0.0, 0.0, 0.0, -1.0], [0.0, 0.0, 1.25, -1.5]], thr=0.5)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_semantic_dedup_matches_duckdb(fuzz_spark, vecs, thr):
    """SemDeDup on random 4-dim integer-grid vectors vs a DuckDB
    argmax-assignment + within-cluster EXISTS oracle. The grid makes
    exact cosine TIES between centroids common, pinning the
    ties->lowest-centroid-index rule across engines (4-dim sums are
    below numpy's pairwise-summation switch, so the batch-assign
    path is bit-safe here, as in the corpus query)."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    cents = vecs[:2]
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    sdf = spark.createDataFrame(
        pdf, "vec_id long, embedding array<double>")
    got = (dedup.semantic_dedup(sdf, "vec_id", "embedding", cents,
                                threshold=thr)
           .select("vec_id").toPandas())
    con = duckdb.connect()
    con.register("embeddings", pdf)
    cos = ("list_dot_product({a}, {b})"
           " / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    oracle = con.execute(f"""
        with e as (select vec_id, CAST(embedding AS DOUBLE[]) ev
                   from embeddings),
        c as (select vec_id as cid, CAST(embedding AS DOUBLE[]) cv
              from embeddings where vec_id < 2),
        assign as (
          select e.vec_id, e.ev,
                 (select c.cid from c
                  order by {cos.format(a='e.ev', b='c.cv')} desc,
                           c.cid asc limit 1) as cluster
          from e),
        losers as (
          select distinct b.vec_id
          from assign a join assign b
            on a.cluster = b.cluster and a.vec_id < b.vec_id
          where {cos.format(a='a.ev', b='b.ev')} >= {thr})
        select vec_id from e
        where vec_id not in (select vec_id from losers)
        """).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_interp_logprob_matches_duckdb(fuzz_spark, texts):
    """Self-scored interpolated logprob on random corpora vs the
    corpus oracle — the λ-mix double arithmetic, first-token unigram
    backoff, and decimal sums bit-exact."""
    from sybil_spark.corpus import ORACLES
    from sybil_spark.operators import quality
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    got = quality.interpolated_logprob(spark.createDataFrame(pdf),
                                       "doc_id", "text").toPandas()
    oracle = con.execute(ORACLES["interp_logprob"]).df()
    _cmp_frames(got, oracle)


@given(texts=docs_st, kw=st.sampled_from([(2, 2), (2, 4), (3, 3)]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_winnow_pairs_matches_duckdb(fuzz_spark, texts, kw):
    """Winnowing (portable hashes) on random tiny-vocab corpora
    (dense k-gram collisions stress the rightmost-tie rule) vs a
    DuckDB oracle replicating the min-in-window selection via the
    h*2^20 + (2^20-1-pos) encoding — fingerprint-pair sets and
    shared counts bit-exact across (k, window) shapes."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    k, w = kw
    pdf, con = _register_docs(texts)
    got = (dedup.winnow_pairs(spark.createDataFrame(pdf), "doc_id",
                              "text", k=k, window=w, cap=None,
                              portable=True)
           .toPandas())
    leads = ", ".join(f"lead(h0, {j}) over win as h{j}"
                      for j in range(1, k))
    fold = "h0"
    for j in range(1, k):
        fold = f"({fold} * 1000003 + h{j}) % 2147483647"
    oracle = con.execute(f"""
        with toks as (select doc_id as id,
                             unnest(string_split(text, ' ')) as tok,
                             generate_subscripts(
                               string_split(text, ' '), 1) as pos
                      from documents),
        th as (select id, pos,
                      cast(('0x' || substr(md5(tok), 1, 15)) as bigint)
                        % 2147483647 as h0
               from toks),
        st as (select id, pos, h0, {leads}
               from th window win as (partition by id order by pos)),
        shp as (select id, pos - 1 as pos, {fold} as h
                from st where h{k - 1} is not null),
        enc as (select id, pos, h,
                       h * 1048576 + (1048575 - pos) as comb
                from shp),
        sel as (select id, pos,
                       min(comb) over (partition by id order by pos
                                       rows between current row
                                       and {w - 1} following) as c,
                       count(*) over (partition by id) as m
                from enc),
        fp as (select distinct id, c // 1048576 as h
               from sel
               where pos <= m - {w} or (m < {w} and pos = 0))
        select a.id as id_a, b.id as id_b, count(*) as n_shared
        from fp a join fp b on a.h = b.h and a.id < b.id
        group by 1, 2""").df()
    _cmp_frames(got, oracle)


@given(texts=docs_st, qtext=st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=4)
      .map(" ".join), min_size=1, max_size=3))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_bm25_matches_duckdb(fuzz_spark, texts, qtext):
    """BM25 on random corpora x random query strings vs a DuckDB
    oracle with identical IEEE arithmetic order and decimal(38,6)
    per-term quantization — scores and ranks bit-exact."""
    from sybil_spark.operators import quality
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    queries = spark.createDataFrame(
        [(i, t) for i, t in enumerate(qtext)],
        "q_id long, q_text string")
    got = quality.bm25_topk(spark.createDataFrame(pdf), "doc_id",
                            "text", queries, k=4).toPandas()
    qvals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(qtext))
    oracle = con.execute(f"""
        with q(q_id, q_text) as (values {qvals}),
        qt as (select distinct q_id,
                      unnest(string_split(q_text, ' ')) as tok
               from q),
        toks as (select doc_id, unnest(string_split(text, ' ')) as tok
                 from documents),
        tf as (select doc_id, tok, count(*) as tf
               from toks group by 1, 2),
        dl as (select doc_id, count(*) as dl from toks group by 1),
        dfreq as (select tok, count(*) as df_t from tf group by 1),
        stx as (select cast(count(*) as double) as n,
                       cast(cast(sum(dl) as bigint) as double)
                         / cast(count(*) as double) as avgdl
                from dl),
        terms as (select qt.q_id, tf.doc_id,
                         cast(ln(1.0 + ((select n from stx) - df_t
                                        + 0.5) / (df_t + 0.5))
                              * cast(tf as double) * 2.2
                              / (cast(tf as double)
                                 + 1.2 * (0.25 + 0.75
                                          * cast(dl as double)
                                          / (select avgdl from stx)))
                              as decimal(38,6)) as t6
                  from qt join tf using (tok)
                          join dfreq using (tok)
                          join dl on tf.doc_id = dl.doc_id),
        scored as (select q_id, doc_id, sum(t6) as s6
                   from terms group by 1, 2),
        r as (select q_id, doc_id,
                     cast(cast(s6 as varchar) as double) as score,
                     row_number() over (partition by q_id
                                        order by s6 desc, doc_id asc)
                       as rank
              from scored)
        select q_id, doc_id, score, rank from r where rank <= 4
        """).df()
    _cmp_frames(got, oracle)


@given(scores=st.lists(
           st.one_of(st.none(),
                     st.integers(min_value=-6, max_value=6)
                       .map(lambda x: x / 2.0)),   # heavy exact ties
           min_size=1, max_size=40),
       fr=st.sampled_from([(1 / 3, 1 / 3, 1 / 3), (0.5, 0.5),
                           (0.2, 0.5, 0.3)]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_quantile_buckets_matches_bruteforce(fuzz_spark, scores, fr):
    """quantile_buckets' two-phase plan vs the brute-force global
    ranking on random score multisets (dense exact ties, NULLs,
    all-null inputs) across fraction shapes."""
    import math

    from sybil_spark.operators import quality
    spark = fuzz_spark
    labels = tuple(f"b{i}" for i in range(len(fr)))
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "id long, s double")
    got = {r["id"]: r["bucket"]
           for r in quality.quantile_buckets(
               sdf, "id", "s", fr, labels, buckets=7).collect()}
    ranked = sorted(((s, i) for i, s in enumerate(scores)
                     if s is not None),
                    key=lambda t: (-t[0], t[1]))
    n = len(ranked)
    cuts, cum = [], 0.0
    for f in fr[:-1]:
        cum += f
        cuts.append(min(n, max(1, math.ceil(n * cum))))
    for rank0, (_s, i) in enumerate(ranked):
        rn = rank0 + 1
        want = labels[-1]
        for kcut, lab in zip(cuts, labels[:-1]):
            if rn <= kcut:
                want = lab
                break
        assert got[i] == want, (i, rn, got[i], want)
    for i, s in enumerate(scores):
        if s is None:
            assert got[i] == labels[-1]


def _exact_substr_ref(texts: list[str], w: int) -> dict:
    """Pure-Python unaligned ExactSubstr: token removed iff covered
    by a w-word window whose text occurs earlier ((id, pos) order —
    LEXICOGRAPHIC id order, matching the engine's string sort:
    'd10' < 'd3')."""
    wins = []
    for i, t in enumerate(texts):
        ws = t.split(" ")
        for p in range(len(ws) - w + 1):
            wins.append((f"d{i}", p, " ".join(ws[p:p + w])))
    firsts: dict = {}
    for did, p, win in sorted(wins):
        firsts.setdefault(win, (did, p))
    out = {}
    for i, t in enumerate(texts):
        ws = t.split(" ")
        cut: set = set()
        for p in range(len(ws) - w + 1):
            win = " ".join(ws[p:p + w])
            if firsts[win] != (f"d{i}", p):
                cut.update(range(p, p + w))
        kept = [x for k, x in enumerate(ws) if k not in cut]
        out[f"d{i}"] = (len(ws), len(kept), " ".join(kept))
    return out


@given(texts=docs_st, dup_first=st.booleans(),
       window_words=st.sampled_from([2, 3, 5]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_exact_substr_matches_python_ref(fuzz_spark, texts, dup_first,
                                         window_words):
    """Unaligned ExactSubstr on random tiny-vocab corpora (dense
    window collisions at arbitrary offsets; `dup_first` plants a
    whole-doc duplicate to fuzz the n_kept=0 path) vs an independent
    pure-Python first-occurrence/coverage reference — token counts
    and reassembled text exact, with and without the doc-copy
    collapse. Exercises the interval-merge aggregate against
    overlapping and adjacent duplicated windows."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    if dup_first:
        texts = texts + [texts[0]]
    exp = _exact_substr_ref(texts, window_words)
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                      "text": texts}))
    # both collapse_dup_docs settings — pinning that the
    # wholesale-removal shortcut and the windowed path agree on
    # planted whole-doc duplicates
    for cd in (True, False):
        got = {r["doc_id"]: (r["n_tokens"], r["n_kept"], r["dedup_text"])
               for r in dedup.exact_substr_dedup(
                   sdf, "doc_id", "text", window_words,
                   collapse_dup_docs=cd).collect()}
        assert got == exp, (window_words, cd)


@given(texts=docs_st)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_repetition_stats_matches_python_ref(fuzz_spark, texts):
    """Gopher repetition battery on random tiny-vocab corpora (dense
    n-gram runs by construction) vs an independent Counter-based
    reference: the sort+fold run-length arithmetic must reproduce
    the argmax-by-(count, gram) top fractions and the duplicated-gram
    char mass exactly — including single-token docs (whole-text gram,
    fraction 1.0) and all-identical-token docs (max-run path)."""
    from collections import Counter

    from sybil_spark.functions import text as T
    spark = fuzz_spark

    def ref(t):
        ws = t.split(" ")
        out = {}
        for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
            if len(ws) < n:
                grams = [" ".join(ws)]
            else:
                grams = [" ".join(ws[i:i + n])
                         for i in range(len(ws) - n + 1)]
            c = Counter(grams)
            if n <= 4:
                mx = max(c.values())
                best = min(g for g, v in c.items() if v == mx)
                out[f"top_{n}gram_char_frac"] = mx * len(best) / len(t)
            else:
                out[f"dup_{n}gram_char_frac"] = sum(
                    v * len(g) for g, v in c.items() if v > 1) / len(t)
        return out

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                      "text": texts}))
    rows = {r["doc_id"]: r.asDict() for r in sdf.select(
        "doc_id", T.repetition_stats(F.col("text")).alias("s"))
        .select("doc_id", "s.*").collect()}
    for i, t in enumerate(texts):
        e = ref(t)
        g = rows[f"d{i}"]
        for k, v in e.items():
            assert abs(g[k] - v) < 1e-12, (i, k, g[k], v)


_gopher_line_st = st.lists(
    st.sampled_from(["- item one of the list",
                     "* starred thing to do",
                     "the plain prose line goes on...",
                     "another of the usual lines",
                     "# # # symbols here",
                     "trailing thoughts..."]),
    min_size=1, max_size=8).map("\n".join)


@given(texts=st.lists(_gopher_line_st, min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_gopher_rules_matches_duckdb_line_docs(fuzz_spark, texts):
    """Gopher rules on LINE-STRUCTURED documents (bullets, ellipsis
    tails, symbol runs — the branches the newline-free corpus data
    never exercises) vs a DuckDB oracle mirroring the replace-length
    and list-filter arithmetic — all eight booleans bit-equal."""
    from sybil_spark.functions import text as T
    spark = fuzz_spark
    pdf, con = _register_docs(texts)
    sdf = spark.createDataFrame(pdf)
    got = (sdf.withColumn("g", T.gopher_rules(F.col("text"),
                                              min_words=5,
                                              min_stop_types=1))
              .select("doc_id", "g.*").toPandas())
    oracle = con.execute("""
        with t as (select doc_id, text,
                          string_split(text, ' ') as tk,
                          string_split(text, chr(10)) as ln
                   from documents)
        select doc_id,
          len(tk) >= 5 and len(tk) <= 100000 as word_count,
          (length(text) - (length(text)
               - length(replace(text, ' ', '')))) / len(tk) >= 3.0
          and (length(text) - (length(text)
               - length(replace(text, ' ', '')))) / len(tk) <= 10.0
            as mean_word_len,
          ((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3)
            / len(tk) <= 0.1 as symbol_ratio,
          len(list_filter(ln, l -> substr(l, 1, 2)
                                   in ('- ', '* ', '• ')))
            / len(ln) <= 0.9 as bullet_lines,
          len(list_filter(ln, l -> ends_with(l, '...')))
            / len(ln) <= 0.3 as ellipsis_lines,
          len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
            / len(tk) >= 0.8 as alpha_words,
          len(list_intersect(list_distinct(string_split(lower(text),
              ' ')), ['the','be','to','of','and','that','have',
                      'with'])) >= 1 as stop_words
        from t""").df()
    got = got.sort_values("doc_id").reset_index(drop=True)
    oracle = oracle.sort_values("doc_id").reset_index(drop=True)
    for c in ("word_count", "mean_word_len", "symbol_ratio",
              "bullet_lines", "ellipsis_lines", "alpha_words",
              "stop_words"):
        assert list(got[c]) == list(oracle[c].astype(bool)), c
    conj = (got["word_count"] & got["mean_word_len"]
            & got["symbol_ratio"] & got["bullet_lines"]
            & got["ellipsis_lines"] & got["alpha_words"]
            & got["stop_words"])
    assert list(got["passes"]) == list(conj), "conjunction"


@given(texts=docs_st, buckets=st.sampled_from([4, 16, 256]),
       smooth_k=st.sampled_from([1, 3]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_dsir_logratio_matches_python_ref(fuzz_spark, texts, buckets,
                                          smooth_k):
    """DSIR importance weights (portable hashing) vs an independent
    python reference across tiny bucket counts — collision-dense by
    construction, so the bucket-histogram arithmetic (not just the
    happy path) is what's being checked — and across smooth_k. The
    decimal(38,6) quantization is replicated via round-half-even at
    6 dp, matching Spark's decimal cast."""
    import hashlib
    from decimal import Decimal, ROUND_HALF_UP
    from math import log

    from sybil_spark.operators import quality
    spark = fuzz_spark
    M = 2_147_483_647

    def bucket(bg):
        h60 = int(hashlib.md5(bg.encode()).hexdigest()[:15], 16)
        return (h60 % M) % buckets

    def bigrams(t):
        ws = t.split(" ")
        return [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]

    target_idx = {i for i in range(len(texts)) if i % 3 == 0}
    tc: dict = {}
    rc: dict = {}
    feats: dict = {}
    for i, t in enumerate(texts):
        bs = [bucket(b) for b in bigrams(t)]
        if bs:
            feats[f"d{i}"] = bs
        for b in bs:
            rc[b] = rc.get(b, 0) + 1
            if i in target_idx:
                tc[b] = tc.get(b, 0) + 1
    if not tc:
        return   # empty target corpus — operator raises by contract
    t_den = float(sum(tc.values()) + smooth_k * buckets)
    r_den = float(sum(rc.values()) + smooth_k * buckets)

    def q6(x):
        return Decimal(repr(x)).quantize(Decimal("0.000001"),
                                         rounding=ROUND_HALF_UP)
    exp = {}
    for did, bs in feats.items():
        s = Decimal(0)
        for b in bs:
            s += q6(log((tc.get(b, 0) + smooth_k) / t_den)) \
                - q6(log((rc.get(b, 0) + smooth_k) / r_den))
        exp[did] = (len(bs), float(s))

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                      "text": texts,
                      "grp": [i % 3 for i in range(len(texts))]}))
    got = {r["doc_id"]: (r["n_feats"], r["logratio"])
           for r in quality.dsir_logratio(
               sdf, sdf.where(F.col("grp") == 0), "doc_id", "text",
               buckets=buckets, smooth_k=smooth_k,
               portable=True).collect()}
    assert got == exp


_line_docs_st = st.lists(
    st.lists(st.sampled_from(["subscribe now", "alpha line",
                              "beta line", "gamma", "", "delta text",
                              "alpha line"]),
             min_size=1, max_size=6).map("\n".join),
    min_size=1, max_size=10)


@given(texts=_line_docs_st, policy_docs=st.sampled_from(
    [("keep_first", 2), ("drop_common", 2), ("drop_common", 3)]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_line_dedup_matches_duckdb(fuzz_spark, texts, policy_docs):
    """line_dedup on random line-structured corpora (dense repeated
    lines + empty lines by construction) vs a DuckDB oracle for both
    policies: keep_first = corpus-wide row_number over (line) by
    (doc, pos); drop_common = every copy of a line spanning >=
    min_docs distinct docs removed. Counts and reassembled text
    bit-exact."""
    from sybil_spark.operators import dedup
    spark = fuzz_spark
    policy, min_docs = policy_docs
    pdf, con = _register_docs(texts)
    got = dedup.line_dedup(spark.createDataFrame(pdf), "doc_id",
                           "text", policy=policy,
                           min_docs=min_docs).toPandas()
    if policy == "keep_first":
        marker = ("row_number() over (partition by ln "
                  "order by doc_id, pos) = 1")
    else:
        marker = (f"ln not in (select ln from l group by ln having "
                  f"count(distinct doc_id) >= {min_docs})")
    oracle = con.execute(f"""
        with d as (select doc_id,
                          string_split(text, chr(10)) as ls
                   from documents),
        e as (select doc_id, ls,
                     unnest(generate_series(1, len(ls))) as i
              from d),
        l as (select doc_id, i - 1 as pos, ls[i] as ln from e),
        k as (select doc_id, pos, ln, ({marker}) as keep from l)
        select doc_id, cast(count(*) as int) as n_lines,
               cast(sum(case when keep then 1 else 0 end) as int)
                 as n_kept,
               coalesce(string_agg(case when keep then ln end,
                                   chr(10) order by pos), '')
                 as dedup_text
        from k group by doc_id""").df()
    _cmp_frames(got, oracle)
