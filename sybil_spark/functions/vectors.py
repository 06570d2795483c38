"""Vector math over `array<float>` embedding columns.

Everything here is built from JVM-side higher-order functions
(`zip_with` / `aggregate`) so the hot path never crosses into Python:
on a 100 TB corpus the dot products run inside whole-stage codegen,
not a UDF. Elements are cast to double *before* accumulating and the
fold is sequential left-to-right, which makes results deterministic
and bit-identical to any other engine that sums doubles in index
order (the DuckDB oracle's `list_dot_product` does).

Each helper follows the build contract in `functions.sqltext`: one
SQL string, one `F.expr`.

Lambda variables are `__x`/`__y`/`__acc`: a lambda variable shadows a
column of the same name inside its body, and the only outside column
a body here reads is `int8_quantize_sql`'s scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from sybil_spark.functions.sqltext import double_array, ident, lit_double


def dot_sql(a: str, b: str) -> str:
    """Σ a_i·b_i, double precision, sequential fold."""
    return (f"aggregate(zip_with({a}, {b}, (__x, __y) -> "
            "CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
            "0.0D, (__acc, __x) -> __acc + __x)")


def norm_sq_sql(a: str) -> str:
    return (f"aggregate({a}, 0.0D, (__acc, __x) -> "
            "__acc + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))")


def cosine_sql(a: str, b: str) -> str:
    """cos(a,b) = dot/(|a||b|) — written as dot products only so it
    mirrors `list_dot_product`-style oracle SQL bit-for-bit."""
    return (f"({dot_sql(a, b)}) / "
            f"(sqrt({norm_sq_sql(a)}) * sqrt({norm_sq_sql(b)}))")


def cosine_to_const_sql(a: str, q: list[float]) -> str:
    """Cosine against a fixed query vector; the query-side norm is
    folded into one literal so only one array pass per row remains."""
    qn = math.sqrt(sum(float(v) * float(v) for v in q))
    return (f"({dot_sql(a, double_array(q))}) / "
            f"(sqrt({norm_sq_sql(a)}) * {lit_double(qn)})")


def absmax_sql(a: str) -> str:
    """max_i |a_i|, double precision — the symmetric-quantization
    range statistic. A sequential GREATEST fold returns the same
    value as any engine's list-max-of-abs (max is order-free)."""
    return (f"aggregate({a}, 0.0D, (__acc, __x) -> "
            "greatest(__acc, abs(CAST(__x AS DOUBLE))))")


def int8_quantize_sql(a: str, scale: str) -> str:
    """Symmetric int8 quantization: q_i = floor(a_i/scale + 0.5).

    floor(x + 0.5) instead of round(x): engines disagree on
    round-half semantics (HALF_UP vs half-even) but floor is floor
    everywhere, so the quantized codes are bit-identical across
    engines. With scale = absmax/127 the codes land in [-127, 127]
    by construction — no clamp needed (|a_i|/scale <= 127, and
    floor(±127 + 0.5) stays in range). A zero vector (scale = 0)
    quantizes to zeros rather than dividing by zero."""
    return (f"transform({a}, __x -> CASE WHEN ({scale} = 0.0D) THEN 0 "
            f"ELSE CAST(FLOOR(CAST(__x AS DOUBLE) / {scale} + 0.5D) "
            "AS INT) END)")


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(ident(a), ident(b)))


def norm_sq(a: str) -> Column:
    return F.expr(norm_sq_sql(ident(a)))


def norm(a: str) -> Column:
    return F.expr(f"sqrt({norm_sq_sql(ident(a))})")


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(ident(a), ident(b)))


def cosine_to_const(a: str, q: list[float]) -> Column:
    return F.expr(cosine_to_const_sql(ident(a), q))
