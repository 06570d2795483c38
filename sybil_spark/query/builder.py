"""Query builder — sybil's query surface compiled to one DataFrame plan.

The reference engine's entire query language is a flag pipeline
(reference: src/cmd/cmd_query.go:19-83):

    scan → filter (AND) → group-by → {count | avg | hist | percentile
    | count-distinct} [per time bucket] → sort → limit

This builder replicates that surface (and the Go client-API builder at
src/api/cmd_query.go:38-263, the only stable programmatic interface
sybil has) but compiles to a *declarative* DataFrame plan so Catalyst
performs column pruning, parquet predicate pushdown, partial/final hash
aggregation and whole-stage codegen — all things the reference
hand-rolls in its fused scan loop (src/lib/aggregate.go:56-282).

Semantics preserved from the reference:

- Filters are an AND conjunction (src/lib/aggregate.go:104-116); a
  missing (null) value never matches a filter, which is exactly SQL
  null comparison semantics, so plain Column predicates are correct.
- `count` is weight-summed when a weight column is set, while
  `samples` stays the raw row count (src/lib/aggregate.go:100-102,
  202-203); weighted avg is sum(v*w)/sum(w)
  (src/lib/hist_basic.go:111-118).
- Time rollup buckets the time column with `t - t % bucket`
  (src/lib/aggregate.go:174) and int filters on the time column are
  floored to the bucket boundary first (src/lib/filter.go:86-95).
- Default sort is weighted count descending (src/lib/aggregate.go:21),
  default limit 100 (src/lib/config.go:166-167).
- `-str-replace` regex rewrite applied before grouping
  (src/lib/table_query.go:34-51).
- The TOTAL row across all groups (src/lib/aggregate.go:414-459) is
  available via `.total_row()` as a grand-total union.

The lossy per-batch top-k prune (src/lib/aggregate.go:469-495) is NOT
the default here — Spark's TakeOrderedAndProject is exact within the
same memory envelope, so `prune_sort` is an alias of `sort`. The
faithful lossy behavior exists as an explicit OPT-IN for
ultra-high-cardinality heads: operators/prune.lossy_group_topk.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType

from sybil_spark.functions.exact import DEC, sum6_sql
from sybil_spark.functions.sqltext import ident, lit_double

#: sybil NUM_BUCKETS (reference: src/lib/hist.go:3)
NUM_BUCKETS = 1000

#: sybil default result limit (reference: src/lib/config.go:166-167)
DEFAULT_LIMIT = 100


def _dtype(df: DataFrame, c: Column) -> DataType:
    """The type of `c` over `df` (an analysis call, no job)."""
    return df.select(c).schema[0].dataType


_INT_OPS = {"gt", "lt", "eq", "neq", "ge", "le"}
_STR_OPS = {"eq", "neq", "re", "nre"}
_SET_OPS = {"in", "nin"}
_AGG_OPS = {"count", "avg", "sum", "min", "max", "stddev", "hist",
            "percentile", "distinct"}


def compile_filters(filters) -> Column | None:
    """The one filter compiler of the query surface: AND of the
    (kind, op, col, value) tuples that Query, query_cache.CacheSpec
    and the CLI all carry — kind "int" ops gt/lt/ge/le/eq/neq, "str"
    ops eq/neq/re/nre, "set" ops in/nin (array membership). A missing
    (null) value never matches, like the reference's AND conjunction
    (src/lib/aggregate.go:104-116). None when there is no filter."""
    preds: list[Column] = []
    for kind, op, col, value in filters:
        c = F.col(col)
        if kind == "int":
            preds.append({"gt": c > value, "lt": c < value,
                          "ge": c >= value, "le": c <= value,
                          "eq": c == value, "neq": c != value}[op])
        elif kind == "str":
            if op == "eq":
                preds.append(c == value)
            elif op == "neq":
                preds.append(c != value)
            elif op == "re":
                preds.append(c.rlike(value))
            else:  # nre
                preds.append(~c.rlike(value))
        elif kind == "set":
            contains = F.array_contains(c, value)
            preds.append(contains if op == "in" else ~contains)
        else:
            raise ValueError(f"unsupported filter kind {kind!r}")
    return functools.reduce(operator.and_, preds) if preds else None


@dataclass
class _Agg:
    col: str
    op: str
    alias: str | None = None
    params: dict = field(default_factory=dict)


class Query:
    """Fluent builder; every method returns self."""

    def __init__(self, source: DataFrame | str
                 | Callable[[SparkSession], DataFrame]):
        self._source = source
        self._filters: list[tuple[str, str, str, object]] = []
        self._str_replaces: list[tuple[str, str, str]] = []
        self._groups: list[str] = []
        self._set_groups: list[tuple[str, str]] = []
        self._aggs: list[_Agg] = []
        self._weight_col: str | None = None
        self._time_col: str | None = None
        self._time_bucket: int = 0
        self._sort: tuple[str, bool] | None = None  # (col, ascending)
        self._having: list[str] = []
        self._limit: int | None = DEFAULT_LIMIT
        self._total_row = False
        self._read_log_df: DataFrame | None = None
        self._exact = False

    # -- source -----------------------------------------------------------
    @classmethod
    def table(cls, source: DataFrame | str
              | Callable[[SparkSession], DataFrame]) -> "Query":
        """`source`: a DataFrame, a parquet path, or a callable
        spark -> DataFrame that runs only when a plan is built (the
        CLI's cached path reads block footers, never the table)."""
        return cls(source)

    def read_log(self, landing_df: DataFrame) -> "Query":
        """Union the un-digested ingest log into the scan
        (reference `-read-log`, src/cmd/cmd_query.go:66,155-157)."""
        self._read_log_df = landing_df
        return self

    # -- projection transforms -------------------------------------------
    def str_replace(self, col: str, pattern: str, replacement: str) -> "Query":
        self._str_replaces.append((col, pattern, replacement))
        return self

    # -- filters ----------------------------------------------------------
    def int_filter(self, col: str, op: str, value) -> "Query":
        if op not in _INT_OPS:
            raise ValueError(f"int filter op must be one of {_INT_OPS}, got {op!r}")
        self._filters.append(("int", op, col, value))
        return self

    def str_filter(self, col: str, op: str, value: str) -> "Query":
        if op not in _STR_OPS:
            raise ValueError(f"str filter op must be one of {_STR_OPS}, got {op!r}")
        self._filters.append(("str", op, col, value))
        return self

    def set_filter(self, col: str, op: str, value: str) -> "Query":
        if op not in _SET_OPS:
            raise ValueError(f"set filter op must be one of {_SET_OPS}, got {op!r}")
        self._filters.append(("set", op, col, value))
        return self

    # -- shape -------------------------------------------------------------
    def group_by(self, *cols: str) -> "Query":
        self._groups.extend(cols)
        return self

    def group_by_set(self, col: str, alias: str | None = None) -> "Query":
        """Group by the ELEMENTS of a set/array column (explode before
        grouping, after filters — so set filters still see the whole
        array). The reference rejects set group-by outright
        ("Grouping by Set columns is currently not supported",
        src/cmd/cmd_query.go:254-255); this is the documented
        extension (SURVEY.md §2.4 A2). A row contributes once per
        element."""
        self._set_groups.append((col, alias or col + "_elem"))
        return self

    def agg(self, col: str, op: str, alias: str | None = None, **params) -> "Query":
        if op not in _AGG_OPS:
            raise ValueError(f"agg op must be one of {_AGG_OPS}, got {op!r}")
        self._aggs.append(_Agg(col, op, alias, params))
        return self

    def distinct_cols(self, *cols: str, approx: bool = False, rsd: float = 0.05) -> "Query":
        """COUNT DISTINCT over a tuple of columns (reference `-distinct`,
        src/lib/query_spec.go:85-104). Exact by default (the correctness
        oracle); `approx=True` switches to the HLL sketch for scale,
        matching the reference's LogLogBeta behavior."""
        self._aggs.append(_Agg(",".join(cols), "distinct", None,
                               {"cols": list(cols), "approx": approx, "rsd": rsd}))
        return self

    def weight_col(self, col: str) -> "Query":
        self._weight_col = col
        return self

    def time_col(self, col: str, bucket: int) -> "Query":
        """Tumbling time-series rollup (reference `-time -time-bucket`,
        src/lib/aggregate.go:145-183)."""
        self._time_col = col
        self._time_bucket = int(bucket)
        return self

    def having(self, expr: str) -> "Query":
        """Post-aggregation filter (SQL HAVING) over RESULT columns —
        a boolean SQL expression referencing aliases the query
        produces (`count`, `avg_value`, group keys...). Extension
        beyond the reference (sybil filters rows only, pre-agg);
        applied before sort/limit like SQL, and evaluated on the
        aggregated frame, so at scale it filters |groups| rows, not
        input rows. Multiple calls AND together."""
        self._having.append(expr)
        return self

    def sort(self, col: str, asc: bool = False) -> "Query":
        self._sort = (col, asc)
        return self

    prune_sort = sort  # reference `-prune-sort` is lossy; ours is exact

    def limit(self, n: int | None) -> "Query":
        self._limit = n
        return self

    def total_row(self) -> "Query":
        self._total_row = True
        return self

    def exact_mode(self) -> "Query":
        """Deterministic float aggregation: sums/averages/stddev
        equal Σ cast(x as decimal(38,6)) and are cast back to double.
        Partial-aggregation order then cannot perturb low bits, so
        results are bit-identical across partitionings, cluster
        sizes, AND other engines (the DuckDB correctness oracle).
        Float summands accumulate on int64 fixed point
        (functions.exact.exact_sum); integral ones as decimals. The
        sums are built as SQL text, one `F.expr` per output column
        (the build contract in functions.sqltext). The sample stddev
        of a one-sample group is NULL (its n − 1 divisor is zero), as
        stddev_samp's is, not an ANSI divide-by-zero error.

        Domain: keep |sum|·10^6 < 2^53 — then the decimal→double
        cast is a single correctly-rounded operation in every engine
        (larger scaled sums expose engines whose int128→double
        conversion is two-step). A float summand with |x|·10^6 ≥
        2^63 (|x| ≳ 9.2e12) has no int64 fixed-point value: the
        query raises rather than skip it. Slightly slower than
        native double sums; off by default."""
        self._exact = True
        return self

    # -- compile -----------------------------------------------------------
    def _load(self, spark: SparkSession) -> DataFrame:
        src = self._source
        df = (spark.read.parquet(src) if isinstance(src, str)
              else src(spark) if callable(src) else src)
        if self._read_log_df is not None:
            df = df.unionByName(self._read_log_df, allowMissingColumns=True)
        return df

    def filter_specs(self) -> tuple[tuple[str, str, str, object], ...]:
        """The filters as compile_filters / CacheSpec.filters tuples,
        with int filters on the time column floored to the bucket
        boundary when rollup is active (reference
        src/lib/filter.go:86-95) — the one place that alignment
        happens, so the direct scan and the cache key agree."""
        b = self._time_bucket
        return tuple(
            (kind, op, col, int(v) - int(v) % b)
            if (b and kind == "int" and col == self._time_col
                and isinstance(v, (int, float)))
            else (kind, op, col, v)
            for kind, op, col, v in self._filters)

    def _scan(self, spark: SparkSession) -> DataFrame:
        """The scan prelude every op shares: load → str_replace →
        filters → set-group explode. Str-replace runs before the
        filters and the grouping (reference table_query.go:34-51);
        set group-by explodes after the filters, so set filters still
        see the whole array, and a group_by_set query groups per
        element on every op."""
        df = self._load(spark)
        for col, pat, repl in self._str_replaces:
            df = df.withColumn(col, F.regexp_replace(F.col(col), pat, repl))
        pred = compile_filters(self.filter_specs())
        if pred is not None:
            df = df.where(pred)
        for col, alias in self._set_groups:
            df = df.withColumn(alias, F.explode(F.col(col)))
        return df

    def _weight_sql(self) -> str:
        """The row weight as SQL text: the weight column as double
        (a NULL weight counts 1), or 1.0 without a weight column."""
        if self._weight_col:
            return f"coalesce(CAST({ident(self._weight_col)} AS DOUBLE), 1.0D)"
        return "1.0D"

    @staticmethod
    def _dsum(x: str, dtype: DataType = DoubleType()) -> str:
        """Order-independent sum (see exact_mode) of the `dtype`
        summand `x`, as double; SQL text in and out."""
        return f"CAST({sum6_sql(x, dtype)} AS DOUBLE)"

    def _sum(self, x: str) -> str:
        """sum(x) of a double summand in the query's mode: exact
        under exact_mode, native double otherwise; SQL text."""
        return self._dsum(x) if self._exact else f"sum({x})"

    def _count_exprs(self) -> list[Column]:
        """`count` (weight sum under a weight column) [+ raw `samples`]
        — the leading columns of compile's aggregate and of hist /
        loghist."""
        if not self._weight_col:
            return [F.count(F.lit(1)).alias("count")]
        return [F.expr(f"{self._sum(self._weight_sql())} AS `count`"),
                F.count(F.lit(1)).alias("samples")]

    def _agg_exprs(self, df: DataFrame) -> list[Column]:
        w = self._weight_sql()
        exprs = self._count_exprs()
        for a in self._aggs:
            c, v = F.col(a.col), ident(a.col)
            name = a.alias or f"{a.op}_{a.col.replace(',', '_')}"
            # the sums below are SQL text, one F.expr per output (the
            # build contract in functions.sqltext); Σv·w and W, the
            # weight over non-null values, are the weighted moments
            vw, ww = f"{v} * {w}", f"CASE WHEN {v} IS NOT NULL THEN {w} END"
            if a.op == "avg":
                if self._weight_col:
                    exprs.append(F.expr(f"{self._sum(vw)} / {self._sum(ww)}"
                                        f" AS {ident(name)}"))
                elif self._exact:
                    exprs.append(F.expr(
                        f"{self._dsum(v, _dtype(df, c))} / count({v})"
                        f" AS {ident(name)}"))
                else:
                    exprs.append(F.avg(c).alias(name))
            elif a.op == "sum":
                # weighted SUM is Σv·w — the reference derives SUM as
                # Mean()·TotalCount with a weight-scaled count
                # (hist_compat.go:22, printer.go:122), i.e. weighted
                if self._weight_col:
                    exprs.append(F.expr(f"{self._sum(vw)} AS {ident(name)}"))
                elif self._exact:
                    exprs.append(F.expr(
                        f"{self._dsum(v, _dtype(df, c))} AS {ident(name)}"))
                else:
                    exprs.append(F.sum(c).alias(name))
            elif a.op == "min":
                exprs.append(F.min(c).alias(name))
            elif a.op == "max":
                exprs.append(F.max(c).alias(name))
            elif a.op == "stddev":
                # try_divide: a one-sample group (n − 1 = 0, W − 1 = 0)
                # gets NULL, like stddev_samp, not an ANSI error
                if self._weight_col:
                    # frequency-weight sample stddev: (Σwv² − (Σwv)²/W)
                    # / (W−1), W = weight over non-null values — the
                    # un-quantized version of the reference's
                    # weight-scaled hist stddev (hist_basic.go:186-219)
                    big_w, s1 = self._sum(ww), self._sum(vw)
                    s2 = self._sum(f"{v} * {vw}")
                    exprs.append(F.expr(
                        f"sqrt(try_divide({s2} - {s1} * {s1} / {big_w}, "
                        f"{big_w} - 1.0D)) AS {ident(name)}"))
                elif self._exact:
                    ct = _dtype(df, c)
                    s1, s2 = self._dsum(v, ct), self._dsum(f"{v} * {v}", ct)
                    exprs.append(F.expr(
                        f"sqrt(try_divide({s2} - {s1} * {s1} / count({v}), "
                        f"count({v}) - 1)) AS {ident(name)}"))
                else:
                    exprs.append(F.stddev_samp(c).alias(name))
            elif a.op == "percentile":
                pcts = a.params.get("percentiles", [0.25, 0.5, 0.75])
                # approx=True is the scale path: a mergeable quantile
                # sketch (reference's optional t-digest build,
                # src/lib/hist_tdigest.go:1-130) instead of the exact
                # full-sort percentile; accuracy trades memory
                approx = a.params.get("approx", False)
                acc = a.params.get("accuracy", 10000)
                if self._weight_col:
                    # weighted percentiles compile via a window CDF
                    # pass joined in by compile() — see _wp_frame
                    if approx:
                        raise ValueError(
                            "approx percentile does not support "
                            "weight_col; use hist_summary for the "
                            "weighted scale path")
                    continue
                for p in pcts:
                    if approx:
                        e = F.percentile_approx(a.col, p, acc)
                    else:
                        e = F.expr(f"percentile({a.col}, {p!r})")
                    exprs.append(
                        e.alias(a.alias or f"p{int(p * 100)}_{a.col}"))
            elif a.op == "distinct":
                cols = a.params.get("cols") or a.col.split(",")
                if a.params.get("approx"):
                    expr = F.approx_count_distinct(
                        F.concat_ws("\x1f", *[F.col(x) for x in cols]),
                        a.params.get("rsd", 0.05))
                else:
                    expr = F.count_distinct(*[F.col(x) for x in cols])
                exprs.append(expr.alias(a.alias or "distinct"))
            elif a.op == "count":
                pass  # count/samples are always emitted
            elif a.op == "hist":
                raise ValueError("hist aggregations compile via Query.hist()")
        return exprs

    def _group_names(self) -> list[str]:
        """Output names of _group_cols, in order."""
        names = self._groups + [a for _c, a in self._set_groups]
        if self._time_bucket:
            names.append("tbucket")
        return names

    def _wp_frame(self, df: DataFrame, a: "_Agg") -> DataFrame:
        """Exact weighted percentiles for one agg: smallest value whose
        cumulative weight reaches p·total (the un-quantized version of
        the reference's weight-scaled histogram percentiles,
        src/lib/hist_basic.go:111-118, 153-183).

        One plan for every input: a window pass partitioned by the
        group key builds the weighted CDF (the per-group sort is the
        unavoidable cost of an exact percentile and Spark spills it),
        the per-group totals re-attach by a plain join, then a grouped
        min picks the threshold-crossing values. Weights accumulate in
        decimal, so the CDF is order-exact and bit-matches a SQL
        window oracle. The build runs no Spark job.

        The group key is ONE struct column `__wp_g`, returned packed:
        struct equality is null-safe per field (struct(NULL) =
        struct(NULL) is TRUE), so a missing group value is a real
        group through every join here and through compile()'s
        re-attach, with no <=> conditions whose coalesce-wrapped keys
        would defeat co-partitioning. With no group columns the key
        is an EMPTY struct (one group holding every row) and the
        crossing aggregation is global, dropping the key. The
        mergeable constant-size path remains the histogram CDF
        (hist_summary / rollup)."""
        from pyspark.sql import Window

        names = self._group_names()
        proj = (df.select(F.struct(*self._group_cols()).alias("__wp_g"),
                          F.col(a.col).alias("__v"),
                          F.expr(f"CAST({self._weight_sql()} AS {DEC}) "
                                 "AS __w"))
                  .where(F.col("__v").isNotNull()))
        # __tw (per-group total weight) is a |groups|-row aggregate
        # joined back, not a second `sum over (partition by ...)`
        # window: a whole-partition frame is its own WindowExec that
        # buffers and re-walks every row. Decimal sums are
        # order-independent, so the value is the same. The join's
        # required distribution (__wp_g) is the window's own
        # exchange and the window sort (__wp_g, __v, __w) prefixes
        # the merge sort, so a sort-merge re-attach adds no exchange
        # or sort on the row side; the planner broadcasts the totals
        # when its estimate is small.
        cdf = Window.partitionBy("__wp_g").orderBy("__v", "__w") \
                    .rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow)
        totals = proj.groupBy("__wp_g").agg(F.sum("__w").alias("__tw"))
        proj = (proj.select("__wp_g", "__v",
                            F.sum("__w").over(cdf).alias("__cw"))
                    .join(totals, "__wp_g"))
        pcts = a.params.get("percentiles", [0.25, 0.5, 0.75])
        aggs = []
        for p in pcts:
            hit = F.when(F.col("__cw").cast("double")
                         >= F.lit(float(p)) * F.col("__tw").cast("double"),
                         F.col("__v"))
            aggs.append(F.min(hit).cast("double")
                        .alias(a.alias or f"p{int(p * 100)}_{a.col}"))
        if not names:
            # a global aggregate, not a groupBy on the empty key: it
            # still yields its one (NULL) row when no value survives
            # the filter, which the caller's crossJoin relies on
            return proj.agg(*aggs)
        return proj.groupBy("__wp_g").agg(*aggs)

    def _group_cols(self) -> list[Column]:
        """The grouping columns of a scanned (_scan) frame: group-by
        columns, set-group elements, then the time bucket."""
        cols = [F.col(g) for g in self._groups]
        cols += [F.col(a) for _c, a in self._set_groups]
        if self._time_bucket:
            t = F.col(self._time_col).cast("long")
            cols.append((t - t % self._time_bucket).alias("tbucket"))
        return cols

    def compile(self, spark: SparkSession) -> DataFrame:
        df = self._scan(spark)
        group_cols = self._group_cols()
        out = df.groupBy(*group_cols).agg(*self._agg_exprs(df))

        wp_aggs = [a for a in self._aggs
                   if a.op == "percentile" and self._weight_col
                   and not a.params.get("approx")]
        if wp_aggs:
            if self._total_row:
                raise ValueError("total_row with weighted percentiles "
                                 "is not supported")
            names = self._group_names()
            if names:
                # the same struct key as _wp_frame's: a NULL group
                # value matches its own percentile row
                out = out.withColumn("__wp_g", F.struct(*names))
            for a in wp_aggs:
                frame = self._wp_frame(df, a)
                out = (out.join(frame, "__wp_g", "left") if names
                       else out.crossJoin(frame))
            out = out.drop("__wp_g")

        if self._total_row and group_cols:
            # Grand-total union (reference src/lib/aggregate.go:414-459);
            # group keys become null, rendered "TOTAL" in the output layer.
            total = df.agg(*self._agg_exprs(df))
            for gc in out.columns:
                if gc not in total.columns:
                    total = total.withColumn(gc, F.lit(None))
            out = out.unionByName(total.select(out.columns))
        return self.shape_result(out)

    def shape_result(self, out: DataFrame) -> DataFrame:
        """The result-shaping step of every aggregate path (direct
        compile and the CLI's cached path): HAVING → sort (default
        `count` desc, reference src/lib/aggregate.go:21) → limit."""
        for h in self._having:
            # post-agg, pre-sort/limit (SQL HAVING position); the
            # TOTAL row, if any, is subject to it like any other row
            out = out.where(F.expr(h))

        # No explicit sort AND no limit → skip the output sort: the
        # result set is order-insensitive and the extra range-partition
        # Exchange is pure cost at scale. (With a limit, ordering is
        # part of the semantics; orderBy+limit compiles to an exact
        # TakeOrderedAndProject, not a full sort.)
        if self._sort is None and not self._limit:
            return out
        sort_col, asc = self._sort or ("count", False)
        if self._groups or self._set_groups or self._time_bucket:
            order = [F.col(sort_col).asc() if asc else F.col(sort_col).desc()]
            # Group keys (group-by order, then tbucket) as tiebreakers
            # make limit deterministic whatever the frame's column
            # order (the reference's pick under ties is
            # block-order-dependent; ours is total-ordered —
            # documented divergence, SURVEY §7.5).
            ties = self._groups + (["tbucket"] if self._time_bucket else [])
            out = out.orderBy(*order, *[F.col(g).asc_nulls_last()
                                        for g in ties])
        if self._limit:
            out = out.limit(self._limit)
        return out

    def execute(self, spark: SparkSession) -> DataFrame:
        return self.compile(spark)

    # -- histogram path ----------------------------------------------------
    def hist(self, spark: SparkSession, col: str, bucket: float | None = None,
             min_val: float | None = None, max_val: float | None = None,
             discard_over: float | None = None,
             from_registry=None) -> DataFrame:
        """Fixed-width bucket histogram per group (reference `-op hist`,
        src/lib/hist_basic.go:28-151).

        The reference sizes buckets as (table_max - table_min) /
        NUM_BUCKETS using *table-lifetime* column stats
        (src/lib/hist_basic.go:87-91); pass explicit min/max (from the
        metadata registry) for compat, or an explicit `bucket` width
        (reference `-int-bucket`). When neither is given, min/max are
        computed from the filtered scan — exact, one extra cheap
        aggregate, still two scans total.

        `discard_over` drops values above a cutoff before bucketing —
        sybil-compat callers pass 10× the registry's table max
        (reference src/lib/hist_basic.go:101-109).

        `from_registry` is the full sybil-compat mode: pass a `Table`
        and bucket width, base, and the 10x-max outlier discard all
        come from the table-lifetime stats registry (maintained by
        digest, sources/compact._update_int_info) with no extra scan
        — histogram numbers then match the reference's quantization
        for any ingest history, not just the current rows.

        Output: one row per (group..., bucket) with `bucket` = inclusive
        lower bound, `count` (weighted) and `samples` (raw).
        """
        df, bsql = self._fixed_buckets(spark, col, bucket, min_val,
                                       max_val, discard_over, from_registry)
        return self._bucket_counts(df, F.expr(f"{bsql} AS bucket"))

    def _fixed_buckets(self, spark: SparkSession, col: str, bucket,
                       min_val, max_val, discard_over,
                       from_registry) -> tuple[DataFrame, str]:
        """hist/hist_summary's shared front: the scanned rows with a
        non-null `col` (≤ discard_over), and the SQL text of the
        fixed-width bucket lower bound — width and base resolved from the
        registry, then explicit args, then the filtered rows' min/max
        (see hist)."""
        if from_registry is not None:
            info = from_registry.load_meta().int_info.get(col)
            if not info:
                raise ValueError(
                    f"no registry stats for column {col!r}; run digest")
            min_val = info["min"] if min_val is None else min_val
            max_val = info["max"] if max_val is None else max_val
            if discard_over is None and info["max"] is not None \
                    and info["max"] > 0:
                discard_over = 10 * info["max"]
        df = self._scan(spark).where(F.col(col).isNotNull())
        if discard_over is not None:
            df = df.where(F.col(col) <= discard_over)

        if bucket is None:
            if min_val is None or max_val is None:
                row = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
                min_val = row["mn"] if min_val is None else min_val
                max_val = row["mx"] if max_val is None else max_val
            if min_val is None or max_val is None:
                # empty filtered input: min/max aggregate to NULL —
                # degenerate to one unit bucket so the plan compiles
                # and returns the (empty) result instead of a
                # TypeError on None arithmetic
                min_val, max_val = 0.0, 0.0
            bucket = max((max_val - min_val) / NUM_BUCKETS, 1)
        base = lit_double(min_val if min_val is not None else 0.0)
        width = lit_double(bucket)
        return df, (f"FLOOR(({ident(col)} - {base}) / {width}) * {width}"
                    f" + {base}")

    def _bucket_counts(self, df: DataFrame, bcol: Column) -> DataFrame:
        """hist/loghist's shared tail: count[, samples] per
        (group..., bucket), ordered by group keys then bucket."""
        out = df.groupBy(*self._group_cols(), bcol) \
                .agg(*self._count_exprs())
        return out.orderBy(*[F.col(c).asc_nulls_last()
                             for c in self._group_names() + ["bucket"]])

    def hist_summary(self, spark: SparkSession, col: str,
                     bucket: float | None = None,
                     min_val: float | None = None,
                     max_val: float | None = None,
                     ps: tuple = (0.25, 0.5, 0.75),
                     discard_over: float | None = None,
                     from_registry=None) -> DataFrame:
        """Composite histogram result: per group, ONE row holding
        samples, sum, avg, stddev AND bucket-quantized percentiles —
        the reference's `-op hist` output, which prints
        percentiles/stddev/avg/sum derived from the same histogram
        (src/lib/printer.go:111-125, hist_basic.go:153-211), without
        issuing separate percentile/stddev queries.

        Plan shape: one scan → per-(group, bucket) partial moments
        (count + decimal sum/sumsq) → per-group final merge where
        percentiles walk the ≤NUM_BUCKETS (bucket,count) entries
        (rollup.percentiles_from_hist's CDF logic as an aggregate).
        avg/stddev come from the exact decimal moments (like
        sources/rollup.serve); percentiles are bucket lower bounds,
        quantized exactly like the reference. Scale-safe: the second
        aggregate sees at most NUM_BUCKETS rows per group.

        With a weight column set, `count` is the weight sum, avg and
        stddev use frequency-weight moments (Σwv, Σwv², sample
        variance with W−1), and the percentile CDF walks cumulative
        WEIGHTS in exact decimal — the reference's weight-scaled
        histogram semantics (hist_basic.go:111-118, 153-183); this
        is the mergeable scale path for weighted percentiles. A
        one-sample group (W − 1 = 0) has a NULL stddev.

        Build: both aggregates and the CDF walks are SQL text (the
        build contract in functions.sqltext) — the per-bucket sums,
        the per-group merge and ONE selectExpr that walks the
        entries for every percentile and drops the helper columns —
        so the build pays a few py4j round trips per output column,
        not one per expression node."""
        df, bsql = self._fixed_buckets(spark, col, bucket, min_val,
                                       max_val, discard_over, from_registry)
        v, w = ident(col), self._weight_sql()
        use_w = bool(self._weight_col)
        # summand types: weighted moments are double, raw ones the column's
        vt = DoubleType() if use_w else _dtype(df, F.col(col))
        vw, vvw = ((f"{v} * {w}", f"{v} * {v} * {w}") if use_w
                   else (v, f"{v} * {v}"))
        baggs = ["count(1) AS __n", f"{sum6_sql(vw, vt)} AS __s",
                 f"{sum6_sql(vvw, vt)} AS __ss"]
        if use_w:
            baggs.append(f"{sum6_sql(w, DoubleType())} AS __w")
        per_bucket = (df.groupBy(*self._group_cols(),
                                 F.expr(f"{bsql} AS bucket"))
                        .agg(*[F.expr(e) for e in baggs]))
        gnames = self._group_names()
        # W: the denominator — weight sum under a weight column, else
        # the raw row count (frequency-weight moments generalize both)
        cnt = "__w" if use_w else "__n"
        big_w = f"CAST(sum({cnt}) AS DOUBLE)"
        s, ss = "CAST(sum(__s) AS DOUBLE)", "CAST(sum(__ss) AS DOUBLE)"
        outs = {"samples": "sum(__n)"}
        if use_w:
            outs["count"] = big_w
        outs[f"sum_{col}"] = s
        outs[f"avg_{col}"] = f"{s} / {big_w}"
        # try_divide: a one-sample group (W − 1 = 0) gets NULL, not
        # an ANSI divide-by-zero error
        outs[f"stddev_{col}"] = (
            f"sqrt(try_divide({ss} - {s} * {s} / {big_w}, {big_w} - 1.0D))")
        entries = ("array_sort(collect_list(struct(bucket AS b, "
                   f"CAST({cnt} AS {DEC}) AS n)))")
        out = per_bucket.groupBy(*gnames).agg(
            *[F.expr(f"{e} AS {ident(k)}") for k, e in outs.items()],
            F.expr(f"{big_w} AS __W"), F.expr(f"{entries} AS __e"))

        def _cdf_walk(p: float) -> str:
            """The smallest bucket whose cumulative count (weight)
            reaches p·W: a left fold over the sorted entries."""
            cum = "__acc.cum + __x.n"
            return (f"aggregate(__e, struct(CAST(0 AS {DEC}) AS cum, "
                    "CAST(NULL AS DOUBLE) AS ans), (__acc, __x) -> "
                    f"struct({cum} AS cum, CASE WHEN __acc.ans IS NOT NULL "
                    f"THEN __acc.ans WHEN CAST({cum} AS DOUBLE) >= "
                    f"{lit_double(p)} * __W THEN __x.b END AS ans)).ans")

        out = out.selectExpr(
            *[ident(k) for k in [*gnames, *outs]],
            *[f"{_cdf_walk(p)} AS p{int(p * 100)}" for p in ps])
        order = [F.col(x).asc_nulls_last() for x in gnames]
        return out.orderBy(*order) if order else out

    def loghist(self, spark: SparkSession, col: str) -> DataFrame:
        """Log-scaled histogram (reference `-loghist`,
        src/lib/hist_multi.go:6-261): bucket width shrinks
        logarithmically so wide-range columns keep resolution near
        zero. Bucket = 2^floor(log2(v)) for v ≥ 1, one bucket for
        v < 1. floor(log2) is computed as bit-length of floor(v) —
        integer arithmetic, so the bucket is bit-deterministic across
        engines (float log2 differs in the last ulp near exact powers
        of two: Spark evaluates ln(x)/ln(2)). Output columns mirror
        hist(): bucket (lower bound), count[, samples]."""
        df = self._scan(spark).where(F.col(col).isNotNull())
        bcol = (F.when(F.col(col) >= 1,
                       F.pow(F.lit(2.0),
                             (F.length(F.bin(F.floor(F.col(col))
                                             .cast("long"))) - 1)
                             .cast("double")))
                 .otherwise(F.lit(0.0))).alias("bucket")
        return self._bucket_counts(df, bcol)

    # -- raw-record paths --------------------------------------------------
    def samples(self, spark: SparkSession, n: int = 100,
                sort_col: str | None = None, asc: bool = False,
                cols: list[str] | None = None) -> DataFrame:
        """Matched raw records (reference `-samples`,
        src/lib/printer.go:388-456): filters apply, then records sort
        by `sort_col` (reference default: reverse-chronological) and
        the top n return. Compiles to TakeOrderedAndProject — no full
        sort, no collect."""
        df = self._scan(spark)
        if cols:
            df = df.select(*cols)
        order_col = sort_col or self._time_col
        if order_col:
            df = df.orderBy(F.col(order_col).asc() if asc
                            else F.col(order_col).desc())
        return df.limit(n)

    def distinct_values(self, spark: SparkSession, cols: list[str],
                        limit: int | None = None,
                        deterministic: bool = False) -> DataFrame:
        """Distinct tuples with an optional early-exit limit
        (reference `-distinct-limit`, src/lib/table_query.go:259-280).

        Default: Spark's limit short-circuits tasks once n rows are
        buffered — the same cost-saving intent as the reference;
        WHICH n tuples return is nondeterministic in both engines
        (SURVEY.md §7.5). Scale delta, by design: the reference can
        abort mid-SCAN at >= n distinct groups (table_query.go:
        259-280) so on a high-cardinality 100x table it reads less
        INPUT; Spark's limit caps result movement but still scans
        every block once (plan shape pinned in
        test_plans.test_distinct_limit_early_exit_plans).

        `deterministic=True` keeps the early-exit COST shape but
        makes the returned set reproducible: order by md5 of the
        tuple (a uniform pseudo-random total order any engine can
        replicate) before the limit. NULLs are encoded with an
        explicit sentinel so the order is well-defined for nullable
        tuples too — the SQL equivalent is
        `order by md5(concat_ws(chr(31),
            coalesce(cast(c1 as varchar), chr(0) || 'null'), ...))
         limit n`
        (plain `md5(cast(col as varchar))` would yield NULL and sort
        nulls-last, diverging from concat_ws's null-skipping).
        Compiles to TakeOrderedAndProject over the distinct
        aggregate — per-partition top-n then a k-row merge, never a
        full sort."""
        out = self._scan(spark).select(*cols).distinct()
        if limit and deterministic:
            tie = F.md5(F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"),
                                     F.lit("\x00null")) for c in cols]))
            out = out.orderBy(tie.asc_nulls_last(),
                              *[F.col(c).asc_nulls_last() for c in cols])
        return out.limit(limit) if limit else out


def distinct_values_early_stop(spark: SparkSession, blocks: list[str],
                               cols: list[str], limit: int,
                               batch_files: int = 8,
                               predicate: Column | None = None) -> DataFrame:
    """TRUE input-limiting distinct-limit: stop READING blocks once
    >= `limit` distinct tuples exist — the reference's mid-scan abort
    (src/lib/table_query.go:259-280), which Query.distinct_values
    cannot reproduce because a DataFrame limit caps result movement,
    not input IO (test_plans.test_distinct_limit_early_exit_plans).

    Scans `batch_files` block files at a time, accumulating distinct
    tuples; on a high-cardinality table the first batch usually
    satisfies the limit and the remaining 99.9% of a 100x table is
    never opened. Worst case (cardinality < limit) degrades to one
    extra pass's worth of driver round-trips over the same data a
    full scan reads anyway. Each batch collects at most `limit` rows
    to the driver — bounded regardless of table size.

    Like the reference, WHICH tuples return is scan-order dependent;
    callers needing reproducibility use
    Query.distinct_values(deterministic=True)."""
    seen: list = []
    seen_set = set()
    for i in range(0, len(blocks), batch_files):
        batch = blocks[i:i + batch_files]
        df = spark.read.parquet(*batch)
        if predicate is not None:
            df = df.where(predicate)
        rows = (df.select(*cols).distinct()
                  .limit(limit).collect())

        def _hashable(v):
            # array/set columns collect as Python lists (unhashable);
            # map columns as dicts — normalize recursively so the
            # seen-set works for every distinct-able column type
            if isinstance(v, list):
                return tuple(_hashable(x) for x in v)
            if isinstance(v, dict):
                return tuple(sorted((k, _hashable(x))
                                    for k, x in v.items()))
            return v

        for r in rows:
            t = tuple(_hashable(v) for v in r)
            if t not in seen_set:
                seen_set.add(t)
                seen.append(r)
        if len(seen) >= limit:
            break
    out_rows = seen[:limit]
    schema = spark.read.parquet(*blocks[:1]).select(*cols).schema
    return spark.createDataFrame(out_rows, schema=schema)
