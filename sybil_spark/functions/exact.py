"""Exact float sums on int64 fixed point.

Sybil keeps every number as int64 and coerces floats at ingest
(PAPER.md §1.1), so its sums are order-independent. Here the same
guarantee comes from summing `cast(x as decimal(38,6))`: the oracle
mirrors that formula bit for bit, and partial-aggregation order cannot
perturb low bits. Accumulating decimals costs a `java.math.BigDecimal`
per row, though: the cast runs `Double.toString`, and the sum reads and
rewrites a 16-byte decimal buffer.

`exact_sum(x)` returns the same decimal(38,6) value as
`F.sum(x.cast("decimal(38,6)"))` but accumulates int64. Per row it
takes the unscaled value u = cast(x as decimal(38,6)) · 10^6:

- **Fast branch.** With r = x·1e6 in double arithmetic, when
  |r| < 2^44 and r lies within 0.49 of its nearest integer n = rint(r)
  (its fraction is more than 0.01 away from one half), u = n. Spark's
  cast rounds HALF_UP from `Double.toString(x)`, which lies within
  1 ulp(x) of x, so the decimal's scaled value d·10^6 satisfies
  |r − d·10^6| ≤ 2.5·ulp(r) ≤ 2.5·2^-9 < 0.005 — well inside the
  0.01 guard band, so d·10^6 rounds to n too.
- **Slow branch.** Otherwise u = cast(cast(x as decimal(38,6)) ·
  10^6 as bigint), today's cast, so NULL, NaN, ±inf and decimals that
  sit half-way at the 6th place behave exactly as in the decimal sum,
  whatever the session's cast does with them.

u is summed as two longs, `u >> 22` and `u & (2^22 − 1)`; the two sums
recombine once per group in decimal(38,0) and scale by 10^-6.

**Domain.** A finite summand with |x|·10^6 ≥ 2^63 (|x| ≳ 9.2e12) has
no int64 unscaled value: the kernel raises one error for it, in ANSI
and non-ANSI sessions alike, rather than yield a NULL the sum would
skip. The recombined sum is exact while |Σx|·10^6 < 2^85 (past that
the high word's long sum overflows: it raises in an ANSI session and
wraps in a non-ANSI one). exact_mode's own domain, |Σx|·10^6 < 2^53,
lies far inside both bounds.

The summand comes as SQL text and the kernel is one SQL string and
one `F.expr` (the build contract in `functions.sqltext`): the same
tree built from Column nodes takes ~45 py4j round trips per sum.

The kernel is for float/double summands. Integral and decimal summands
keep the decimal sum (`sum6` picks by dtype): their cast is cheap and
exact, and the per-row int64 bound would narrow a bigint column's
domain."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, FloatType

from sybil_spark.functions.sqltext import lit_double, lit_string

#: the exact-sum result type, and the quantization every summand takes
DEC = "decimal(38,6)"

#: |x·1e6| bound of the fast branch: its ulp is ≤ 2^-9, so the double
#: product is within 0.005 of the decimal's scaled value
_FAST_LIMIT = float(1 << 44)
#: the fast branch's largest distance to the nearest integer: a guard
#: band of 0.01 around a fraction of exactly one half
_NEAR = 0.49
#: the low word's width: the low sum (each term < 2^22) cannot leave
#: int64 before 2^41 rows, the high one not while |Σu| < 2^85
_LO_BITS = 22

OUT_OF_RANGE = ("exact_sum: a summand with |x|*10^6 >= 2^63 has no int64 "
                "fixed-point value (outside exact_mode's domain)")


def exact_sum_sql(x: str) -> str:
    """SQL text of Σ cast(x as decimal(38,6)) for the float/double
    summand `x` (SQL text: a name quoted by `sqltext.ident`, or an
    expression over such names with `lit_double` literals), summed
    as int64 (see the module docstring)."""
    d = f"CAST(({x}) AS DOUBLE)"
    r = f"({d} * {lit_double(1e6)})"
    n = f"rint({r})"
    fast = (f"(abs({r}) < {lit_double(_FAST_LIMIT)}) "
            f"AND (abs({r} - {n}) < {lit_double(_NEAR)})")
    scaled = f"(CAST(({x}) AS {DEC}) * 1000000)"
    # |x| ≥ 1e13 is out of range whatever the rounding, and catches the
    # magnitudes whose decimal(38,6) cast would be NULL; the decimal
    # compare settles [9.2e12, 1e13) exactly. NaN and ±inf fail the
    # first test and fall through to the cast, as in the decimal sum.
    out_of_range = (f"(abs({d}) < {lit_double(float('inf'))}) "
                    f"AND ((abs({d}) >= {lit_double(1e13)}) "
                    f"OR (abs({scaled}) >= {1 << 63}BD))")
    u = (f"CASE WHEN {fast} THEN CAST({n} AS BIGINT) "
         f"WHEN {out_of_range} THEN raise_error({lit_string(OUT_OF_RANGE)}) "
         f"ELSE CAST({scaled} AS BIGINT) END")
    hi = f"sum(shiftright({u}, {_LO_BITS}))"
    lo = f"sum(({u}) & {(1 << _LO_BITS) - 1})"
    return (f"CAST((CAST({hi} AS decimal(38,0)) * {1 << _LO_BITS} "
            f"+ CAST({lo} AS decimal(38,0))) * 0.000001BD AS {DEC})")


def exact_sum(x: str) -> Column:
    """Σ cast(x as decimal(38,6)) for a float/double summand given as
    SQL text, accumulated as int64: bit-identical to
    `F.sum(x.cast("decimal(38,6)"))`, including NULL for an empty or
    all-NULL group. Raises for a finite |x|·10^6 ≥ 2^63."""
    return F.expr(exact_sum_sql(x))


def sum6_sql(x: str, dtype: DataType) -> str:
    """SQL text of Σ cast(x as decimal(38,6)) for the summand text `x`
    of type `dtype`: the int64 kernel for float/double, the decimal
    sum for integral and decimal summands."""
    if isinstance(dtype, (DoubleType, FloatType)):
        return exact_sum_sql(x)
    return f"sum(CAST(({x}) AS {DEC}))"


def sum6(x: str, dtype: DataType) -> Column:
    """`sum6_sql` as a Column (one `F.expr`)."""
    return F.expr(sum6_sql(x, dtype))
