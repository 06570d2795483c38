"""SQL text for expression builders: the build contract.

A DataFrame's expressions are built on the driver, and every Column
API call is at least one py4j round trip to the JVM. A wide
expression — a 64-dim dot against a literal plane, the exact-sum
kernel's ~45 nodes, a histogram's CDF walks — costs hundreds of them,
and the operators that fold dozens of such expressions spent seconds
of driver time per DataFrame before Spark ran a job. So the wide
builders (`functions.vectors`, `functions.exact`, `Query.hist_summary`)
write ONE SQL expression string and make ONE `F.expr` (or
`selectExpr`) call:

- a Column helper takes column NAMES; a `*_sql` builder takes SQL
  fragments — a name quoted by `ident`, or the text of another
  `*_sql` call — and returns SQL text, so an operator can assemble a
  whole wide projection and still pay one call;
- doubles render through `lit_double`, which parses back to the same
  bits, and arrays of them through `double_array`, so the analyzed
  expressions are exactly the ones the Column API builds (a bare
  `1.0` in SQL is a DECIMAL literal, not a double);
- SQL is never read back from a Column (its JVM accessor changed
  between Spark 3 and 4).

The session side of the same cost: PySpark 4's DataFrame debugging
(`spark.python.sql.dataFrameDebugging.enabled`) wraps every Column
and DataFrame call in a Python stack walk plus ~10 more round trips
that record the call site. `session.get_spark` turns it off; the
price is that an analysis or runtime error no longer ends with the
"== DataFrame == ... was called from file:line" trailer naming the
Python line that built the failing expression. The error message
itself is unchanged.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """Backtick-quoted SQL identifier for column `name` (any
    characters, backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def lit_double(x: float) -> str:
    """SQL double literal of `x`: `repr(x) + "D"` round-trips every
    finite double bit-for-bit (±0.0 and subnormals included). NaN and
    ±inf have no literal form; they render as a cast of Spark's own
    string spelling, which constant-folds to the same value."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    s = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{s}' AS DOUBLE)"


def lit_string(s: str) -> str:
    """SQL string literal of `s` (backslashes and quotes escaped, as
    Spark's default string-literal parser reads them)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_array(xs: list[float]) -> str:
    """`array<double>` literal of `xs`, built like
    `F.lit(list).cast("array<double>")` (constant-folded once)."""
    return ("CAST(array(" + ", ".join(lit_double(x) for x in xs)
            + ") AS array<double>)")
