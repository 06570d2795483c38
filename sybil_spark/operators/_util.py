"""Shared operator plumbing."""

from __future__ import annotations

import contextlib
import contextvars

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------
# Auto-persist lifetime: operators that .persist() an intermediate
# (tfidf_top_terms / bm25_topk above TFIDF_PERSIST_BYTES) register it
# here instead of riding an `_sybil_cached` attribute on the result —
# DataFrame attributes silently vanish under any .select/.filter, so
# the old caller-owns-unpersist contract was unfulfillable in practice
# and long sessions pinned corpus-sized MEMORY_AND_DISK frames.
# ---------------------------------------------------------------------

_CACHE_SCOPE: contextvars.ContextVar["CacheHandle | None"] = \
    contextvars.ContextVar("sybil_cache_scope", default=None)
_UNSCOPED: list[DataFrame] = []


class CacheHandle:
    """Owns the persisted intermediates registered while a
    `cache_scope()` is active; `unpersist()` releases them all
    (idempotent, exception-safe per frame)."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    def add(self, df: DataFrame) -> DataFrame:
        self.frames.append(df)
        return df

    def unpersist(self, blocking: bool = False) -> int:
        n = 0
        while self.frames:
            f = self.frames.pop()
            try:
                f.unpersist(blocking)
                n += 1
            except Exception:
                pass
        return n


@contextlib.contextmanager
def cache_scope():
    """`with cache_scope(): run the action` — every intermediate an
    operator auto-persists inside the block is unpersisted at exit.
    The scope is ambient (contextvar), so it needs no plumbing
    through call chains: hybrid_topk -> bm25_topk registers its tf
    frame into the caller's scope without either function knowing.
    Persisted frames only help WITHIN one action's subtrees, so the
    natural unit is scope-per-action; run the action inside the
    block (a lazy frame returned out of the scope stays correct —
    Spark just recomputes the unpersisted subtree)."""
    h = CacheHandle()
    tok = _CACHE_SCOPE.set(h)
    try:
        yield h
    finally:
        _CACHE_SCOPE.reset(tok)
        h.unpersist()


def register_cached(df: DataFrame) -> DataFrame:
    """Operators call this on every frame they `.persist()`: it lands
    in the active cache_scope, or — with no scope on the calling
    context (e.g. a lazy corpus callable whose action the grading
    driver runs later) — in a module-level fallback that
    `unpersist_unscoped()` drains (bench.py drains it per query)."""
    h = _CACHE_SCOPE.get()
    if h is not None:
        return h.add(df)
    _UNSCOPED.append(df)
    return df


def unpersist_unscoped(blocking: bool = False) -> int:
    """Release every fallback-registered persisted frame; returns
    how many were released. Safe to call at any point AFTER the
    actions that wanted the reuse have run."""
    n = 0
    while _UNSCOPED:
        f = _UNSCOPED.pop()
        try:
            f.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


#: Optional plan-evidence hook for eager checkpoints (r11): after a
#: frame is materialized with localCheckpoint, `.explain()` on any
#: consumer starts at `Scan ExistingRDD` — the pre-checkpoint plan
#: (where the shingle/star-pair restructures live) is invisible to
#: the plan record. tools/capture_plans.py sets this to a callable
#: `hook(label, df)` that writes the frame's formatted plan BEFORE
#: materialization. None (the default) is zero-overhead and is the
#: only state in normal runs — never set it on a timed path.
checkpoint_plan_hook = None


def eager_checkpoint(df: DataFrame, label: str) -> DataFrame:
    """`df.localCheckpoint(eager=True)` with the pre-checkpoint plan
    exposed to `checkpoint_plan_hook` when plan capture is active."""
    hook = checkpoint_plan_hook
    if hook is not None:
        hook(label, df)
    return df.localCheckpoint(eager=True)


import re as _re

_WIDE_NODE = _re.compile(
    r"^[\s:+\-*(]*(Join|Aggregate|Window|Sort|Repartition|"
    r"RepartitionByExpression|RebalancePartitions|Deduplicate|Distinct|"
    r"GlobalLimit|Intersect|Except|CoGroup|FlatMapGroups)\b",
    _re.MULTILINE)


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for `df` in bytes, or None when
    it cannot be read. A plan-stats read: no job runs. The tfidf/bm25
    rescan-vs-persist gate reads it here and treats None as big.
    Inputs without statistics (in-memory or checkpointed frames) read
    as Spark's default size, which the gate also treats as big."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except (AttributeError, Py4JError):
        # no JVM-backed frame (`_jdf`), or the JVM plan API moved
        return None


def narrow_num_partitions(df: DataFrame) -> int | None:
    """Input partition count, or None when reading it is not free.

    `df.rdd.getNumPartitions()` finalizes the adaptive plan, which
    EXECUTES any shuffle query stages of the input eagerly — and the
    real action then recomputes them (silent double execution for
    composed inputs). For a narrow plan (scan + project/filter/
    generate) the conversion plans but runs nothing, so the count is
    read directly; any plan with a width-changing node returns None
    and callers fall back to a conf-derived floor."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if _WIDE_NODE.search(plan):
        return None
    return df.rdd.getNumPartitions()


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Re-split a narrow input before a row-amplifying stage.

    Spark sizes scan splits by INPUT bytes (maxPartitionBytes), but a
    shingle/token explode amplifies each document ~50x inside the
    stage — a compressed 30 MB parquet becomes one task doing all the
    work while 31 cores idle, and AQE cannot help because the
    amplification is intra-stage. At real scale inputs already carry
    more splits than cores and this is a no-op (the partition count
    check keeps the repartition off the 100 TB path — never shrink,
    never shuffle what is already spread). Inputs that already
    contain a shuffle are left untouched: their parallelism was set
    by that exchange, and probing them via .rdd would execute the
    upstream stages twice (see narrow_num_partitions)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    n = narrow_num_partitions(df)
    if n is not None and n < target:
        return df.repartition(target)
    return df


def salted_join(big: DataFrame, small: DataFrame, on: list[str],
                salts: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join resilient to hot keys: the big side scatters each row
    to one of `salts` sub-keys (hash of the whole row — deterministic,
    no RNG), the small side replicates to all of them, and the join
    runs on (keys..., salt) so one hot key spreads over `salts` tasks
    instead of stalling the stage on a single straggler.

    Use when AQE skew-join can't apply (bucketed SMJ inputs, skew
    inside a single key rather than a partition) and the small side
    is too big to broadcast outright but fine to replicate x salts.
    Cost: small side shuffles salts x its size."""
    from pyspark.sql import functions as F
    salt_big = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                      F.lit(salts)).alias("__salt")
    b = big.select("*", salt_big)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])))
    return b.join(s, on + ["__salt"], how).drop("__salt")
