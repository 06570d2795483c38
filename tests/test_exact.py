"""The int64 fixed-point sum kernel against the decimal sum it replaces:
grouped `exact_sum("x")` must equal
`F.sum(F.col("x").cast("decimal(38,6)"))` row for row, in ANSI and
non-ANSI sessions, including the rows that take the slow branch
(half-way decimals, |x·1e6| ≥ 2^44, NaN, ±inf, NULL)."""

import math

from hypothesis import (HealthCheck, example, given, settings,
                        strategies as st)
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from sybil_spark.functions.exact import DEC, OUT_OF_RANGE, exact_sum

_EDGE = 2.0 ** 44 / 1e6          # |x·1e6| = 2^44, the fast-branch bound
#: finite |x| at or above this is out of the int64 domain (2^63/1e6 ≈
#: 9.22e12); the strategy stays below 9e12 so only @example rows hit it
_OUT = 9.3e12

_half_way = st.builds(lambda k, s: k + s * 5e-7,
                      st.integers(-10 ** 6, 10 ** 6),
                      st.sampled_from([1, -1]))
_near_edge = st.sampled_from([
    _EDGE, -_EDGE, math.nextafter(_EDGE, 0.0),
    math.nextafter(_EDGE, math.inf), math.nextafter(-_EDGE, -math.inf)])
_value = st.one_of(
    st.none(),
    st.floats(min_value=-9e12, max_value=9e12),
    st.floats(min_value=-1e4, max_value=1e4),
    st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 5e-324]),
    _half_way, _near_edge)
rows_st = st.lists(st.tuples(st.integers(0, 3), _value), min_size=1,
                   max_size=40)


def _outcome(spark, rows, *aggs):
    """Per group, the sum by each of `aggs`; or the error message if
    the query raises."""
    df = spark.createDataFrame(rows, "g int, x double").coalesce(1)
    try:
        return df.groupBy("g").agg(*[
            agg("x").alias(f"s{i}") for i, agg in enumerate(aggs)
        ]).orderBy("g").collect()
    except Exception as e:  # noqa: BLE001 — the error IS the outcome
        return ("error", str(e).split("\n")[0])


def _decimal_sum(x):
    return F.sum(F.col(x).cast(DEC))


@given(rows=rows_st)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@example(rows=[(0, 0.0000005), (0, -1.0000005), (1, 3 + 5e-7),
               (1, -7 - 5e-7), (2, 12345.0000005)])
@example(rows=[(0, _EDGE), (0, math.nextafter(_EDGE, 0.0)),
               (1, math.nextafter(_EDGE, math.inf)), (1, -_EDGE),
               (2, 2.0 ** 45 / 1e6 + 0.5e-6)])
@example(rows=[(0, -0.0), (0, 5e-324), (1, 2.2250738585072014e-308),
               (2, math.nan), (2, 1.5), (3, math.inf), (3, -math.inf)])
@example(rows=[(0, None), (0, None), (1, 2.5)])   # an all-NULL group
@example(rows=[(0, 1.0), (1, _OUT)])              # out of range
@example(rows=[(0, -1e20), (1, 1e300)])           # out of range
def test_exact_sum_matches_decimal_sum(spark, rows):
    out_of_range = any(v is not None and math.isfinite(v)
                       and abs(v) >= _OUT for _g, v in rows)
    # ANSI mode changes only what the cast does with NaN, ±inf and
    # out-of-range values; finite in-range rows run once
    special = any(v is not None and not (math.isfinite(v) and abs(v) < _OUT)
                  for _g, v in rows)
    key, parts = "spark.sql.ansi.enabled", "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key), spark.conf.get(parts)
    try:
        spark.conf.set(parts, "1")
        for ansi in ("true", "false") if special else ("true",):
            spark.conf.set(key, ansi)
            if out_of_range:
                # never a NULL the sum would skip: one clear error
                got = _outcome(spark, rows, exact_sum)
                assert got[0] == "error" and OUT_OF_RANGE in got[1], got
                continue
            both = _outcome(spark, rows, exact_sum, _decimal_sum)
            if isinstance(both, tuple):
                # the slow branch's cast raised: the decimal sum must too
                assert (_outcome(spark, rows, exact_sum)
                        == _outcome(spark, rows, _decimal_sum)), both
                continue
            assert [r["s0"] for r in both] == [r["s1"] for r in both], \
                (ansi, both)
    finally:
        spark.conf.set(key, prev[0])
        spark.conf.set(parts, prev[1])
    if not out_of_range:
        df = spark.createDataFrame(rows, "g int, x double")
        assert df.select(exact_sum("x")).schema[0].dataType \
            == DecimalType(38, 6)
