"""Build contract of the wide expression builders (functions.sqltext:
the vector folds, the LSH / IVF / PQ / MinHash / SimHash builders, the
exact-sum kernel and the query builds that use them).

- Building a wide expression costs a small, fixed number of py4j round
  trips: the builders write one SQL string and make one `F.expr` /
  `selectExpr` call instead of one round trip per Column node, and the
  session does not capture a call site per Column call.
- The SQL literals they write parse back to the same double bits, and
  column names are quoted, so the expressions are the ones the Column
  API would have built.

The budget tests build frames only; they run no Spark job.
"""

import gc
import math
import random
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sybil_spark.functions.exact import exact_sum
from sybil_spark.functions.sqltext import double_array, ident, lit_double
from sybil_spark.functions.vectors import cosine, cosine_to_const
from sybil_spark.operators import dedup, similarity
from tools.profile_query import py4j_round_trips

# ---------------------------------------------------------------------------
# py4j round trips while building
# ---------------------------------------------------------------------------

_rng = random.Random(11)
_DIM = 64
_CENTS = [[_rng.uniform(-1, 1) for _ in range(_DIM)] for _ in range(16)]
_CBS = [[[_rng.uniform(-1, 1) for _ in range(_DIM // 4)] for _ in range(8)]
        for _ in range(4)]

#: builder -> (build(emb, docs), round-trip budget). Each budget is
#: about 1.5x the measured count (PySpark 4.1); the Column-API builds
#: these replaced took 4,000-16,000 round trips each. The MinHash and
#: SimHash counts are mostly their token/shingle pipelines, whose
#: size does not grow with the number of hashes, bands or lanes.
_BUILDS = {
    "embedding_buckets": (
        lambda emb, docs: dedup.embedding_buckets(
            emb, "vec_id", "embedding", _DIM, num_planes=8, tables=4), 20),
    "ivf_assign": (
        lambda emb, docs: similarity.ivf_assign(emb, "embedding", _CENTS),
        15),
    "pq_encode": (
        lambda emb, docs: similarity.pq_encode(emb, "embedding", _CBS), 15),
    "minhash_bands_portable": (
        lambda emb, docs: dedup.minhash_bands(docs, "doc_id", "text",
                                              portable=True), 800),
    "minhash_bands_xxhash": (
        lambda emb, docs: dedup.minhash_bands(docs, "doc_id", "text"),
        800),
    "simhash_df": (
        lambda emb, docs: dedup.simhash_df(docs, "doc_id", "text"), 300),
    "cosine": (lambda emb, docs: cosine("embedding", "embedding"), 10),
}


@pytest.fixture(scope="module")
def build_inputs(spark):
    emb = spark.createDataFrame(
        [(i, [_rng.uniform(-1, 1) for _ in range(_DIM)]) for i in range(8)],
        "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps") for i in range(8)],
        "doc_id long, text string")
    return emb, docs


def _build_round_trips(spark, build) -> int:
    """py4j round trips `build()` makes (skips when they cannot be
    counted)."""
    with py4j_round_trips() as n:
        if n[0] is None:
            pytest.skip("py4j has no ClientServerConnection.send_command")
        spark.range(1)               # a round trip, or the hook is dead
        if not n[0]:
            pytest.skip("py4j gateway does not use ClientServerConnection")
        gc.collect()
        n[0] = 0
        build()
    return n[0]


@pytest.mark.parametrize("name", sorted(_BUILDS))
def test_wide_builder_round_trip_budget(spark, build_inputs, name):
    build, budget = _BUILDS[name]
    n = _build_round_trips(spark, lambda: build(*build_inputs))
    assert 0 < n <= budget, (name, n)


#: query build -> round-trip budget: the count measured at sf0.001
#: with the session's DataFrame debugging off, plus ~20 % headroom.
#: With debugging on and the kernel built from Column nodes these
#: builds took 2,000-2,400 (hist_summary, tpch_q1) and ~1,250
#: (weighted_count) round trips.
_QUERY_BUDGETS = {"hist_summary": 190, "weighted_count": 45,
                  "tpch_q1": 125}


def test_exact_sum_round_trip_budget(spark):
    assert 0 < _build_round_trips(spark, lambda: exact_sum(ident("x"))) <= 3


@pytest.mark.parametrize("name", sorted(_QUERY_BUDGETS))
def test_query_build_round_trip_budget(spark, sf_dir, name):
    from sybil_spark.corpus import QUERIES
    QUERIES[name](spark, sf_dir)          # first build: imports, caches
    n = _build_round_trips(spark, lambda: QUERIES[name](spark, sf_dir))
    assert 0 < n <= _QUERY_BUDGETS[name], (name, n)


def test_session_turns_off_dataframe_debugging(spark):
    """The test session comes from get_spark, whose sessions skip
    PySpark's per-call call-site capture (~10 round trips on every
    Column call)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


# ---------------------------------------------------------------------------
# literal and identifier formatting
# ---------------------------------------------------------------------------

def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


finite = st.floats(allow_nan=False, allow_infinity=False)


@given(xs=st.lists(finite, min_size=1, max_size=16))
@example(xs=[0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
             1e300, -1e300, 1e-300, -1e-300, 1.7976931348623157e308,
             0.1, -123456789.123456789])
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_double_literals_round_trip_bit_exact(spark, xs):
    cols = ", ".join(f"{lit_double(x)} AS c{i}" for i, x in enumerate(xs))
    row = spark.sql(f"SELECT {cols}, {double_array(xs)} AS arr").first()
    assert [_bits(v) for v in row[:len(xs)]] == [_bits(x) for x in xs]
    assert [_bits(v) for v in row["arr"]] == [_bits(x) for x in xs]


def test_non_finite_literals_fold_to_the_same_value(spark):
    """NaN and ±inf have no SQL literal; they render as a cast that
    constant-folds to the value F.lit would have carried."""
    nan, inf = float("nan"), float("inf")
    row = spark.sql(f"SELECT {lit_double(nan)}, {lit_double(inf)}, "
                    f"{lit_double(-inf)}").first()
    assert math.isnan(row[0])
    assert row[1] == inf and row[2] == -inf


@pytest.mark.parametrize("name", ["my vec", "v`ec", "`", "a.b"])
def test_odd_column_names_are_quoted(spark, name):
    assert spark.sql(f"SELECT 1 AS {ident(name)}").columns == [name]
    base = spark.createDataFrame(
        [(0, [1.0, 0.0, 2.0]), (1, [0.0, -3.0, 1.0]), (2, [-2.0, 1.0, 0.5])],
        "id long, v array<double>")
    q = [0.5, -1.0, 2.0]

    def built(df, col):
        return sorted(df.select(
            "id", cosine_to_const(col, q).alias("c"),
            similarity.random_hyperplane_bucket(col, 3, 4).alias("b"))
            .collect())

    odd = base.withColumnRenamed("v", name)
    assert built(odd, name) == built(base, "v")
