"""Statistical operators beyond plain aggregation.

ICC — intraclass correlation via one-way ANOVA (reference
`CalculateICC`, src/lib/stats.go:22-99: MSB/MSW from per-group vs
between-group variance; dead code in the reference CLI, ported as a
first-class operator here).

Everything is two chained aggregations — a per-group partial and a
single-row combine — so it runs as two hash-aggregate stages with no
collect; sums are exact Σ cast(x as decimal(38,6)) (functions.exact)
so the statistic is bit-deterministic (see Query.exact_mode)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sybil_spark.functions.exact import exact_sum, sum6
from sybil_spark.functions.sqltext import ident


def icc(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-row DataFrame: n, groups, msb, msw, icc.

    One-way ANOVA: SSB = Σ_j n_j·(m_j − m)², SSW = Σ_j (ss_j −
    s_j²/n_j); MSB = SSB/(J−1), MSW = SSW/(N−J);
    ICC(1) = (MSB − MSW) / (MSB + (n̄ − 1)·MSW) with n̄ = N/J."""
    v = ident(value_col)
    vt = df.select(value_col).schema[0].dataType
    g = (df.where(F.col(value_col).isNotNull())
           .groupBy(group_col)
           .agg(F.count(value_col).alias("n_j"),
                sum6(v, vt).cast("double").alias("s_j"),
                sum6(f"{v} * {v}", vt).cast("double").alias("ss_j")))
    # combine stage: all terms are per-group double scalars; they are
    # summed exactly too so group order can't perturb the result
    combined = g.agg(
        F.sum("n_j").alias("n"),
        F.count(F.lit(1)).alias("groups"),
        exact_sum("s_j").cast("double").alias("s"),
        exact_sum("ss_j").cast("double").alias("ss"),
        exact_sum("s_j * s_j / n_j").cast("double").alias("sg"))
    m = F.col("s") / F.col("n")
    ssb = F.col("sg") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sg")
    msb = ssb / (F.col("groups") - 1)
    msw = ssw / (F.col("n") - F.col("groups"))
    nbar = F.col("n").cast("double") / F.col("groups")
    return combined.select(
        F.col("n"), F.col("groups"),
        msb.alias("msb"), msw.alias("msw"),
        ((msb - msw) / (msb + (nbar - 1) * msw)).alias("icc"))
