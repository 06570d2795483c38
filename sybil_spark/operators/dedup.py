"""Deduplication operators for training-data pipelines.

Scale notes (the whole point of these designs):

- Exact dedup is one hash-shuffle on the dedup key. At 100 TB we
  group on `xxhash64(text)` (8 bytes) rather than the full text, so
  the shuffle carries hashes + ids, not documents; `exact_keep_first`
  then RE-CHECKS the real key columns within hash-collision groups
  (see its second grouped pass, below at the `multi_rows` join), so a
  64-bit collision can never drop a unique row.
- MinHash/LSH is the classic banding scheme: candidate generation is
  an equi-join on (band_id, band_hash) — a co-partitioned shuffle
  whose fan-out is controlled by band width, never an O(n²) cross
  join. Verification of candidates is a narrow self-join on ids.
- SimHash gives a 64-bit signature; near-dup candidates come from
  equality on rotated 16-bit bands (Hamming ≤ 3 ⇒ at least one of 4
  bands equal — pigeonhole), again an equi-join.
- All hashes are `xxhash64`, JVM-side and deterministic, so every
  stage is reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves the pandas_udf type hints

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T_

from sybil_spark.functions.text import tokens
from sybil_spark.operators._util import (eager_checkpoint,
                                         narrow_num_partitions,
                                         register_cached, spread)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One row per distinct key: the keeper (min id) and the duplicate
    count. Group key is the raw columns — fine up to huge scale because
    parquet+Tungsten shuffle compresses; see `exact_keep_first` for the
    hash-key variant that keeps long text out of the shuffle."""
    return (df.groupBy(*key_cols)
              .agg(F.min(id_col).alias("keeper"),
                   F.count(F.lit(1)).alias("dupes")))


def exact_keep_first(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Return the deduplicated rows (first id wins per key).

    The cheap pass shuffles only (hash, id): at 100 TB the wide
    document row stays columnar at rest and is re-joined after the
    winner is chosen — a semi-join that Catalyst can push as a
    DPP/bloom filter. Hash groups with >1 member are then RE-CHECKED
    on the real key columns (a second grouped pass over just those
    rows), so a 64-bit collision between two distinct keys can never
    drop a unique row: the wide keys shuffle only for rows that are
    duplicates or collisions, never for the (dominant) unique rows."""
    h = F.xxhash64(*[F.col(c) for c in key_cols])
    g = (df.select(h.alias("__k"), F.col(id_col))
           .groupBy("__k").agg(F.min(id_col).alias(id_col),
                               F.count(F.lit(1)).alias("__n")))
    solo = g.where(F.col("__n") == 1).select(id_col)
    multi_rows = (df.withColumn("__k", h)
                    .join(g.where(F.col("__n") > 1).select("__k"),
                          "__k", "left_semi"))
    multi = (multi_rows.groupBy(*key_cols)
                       .agg(F.min(id_col).alias(id_col)).select(id_col))
    winners = solo.unionByName(multi)
    return df.join(winners, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# span-level exact substring dedup
# ---------------------------------------------------------------------------

def doc_spans(df: DataFrame, id_col: str, text_col: str,
              span_words: int = 20) -> DataFrame:
    """(id_col, pos, span): each document's aligned non-overlapping
    `span_words`-word windows (trailing partial span included). Pure
    array expressions + one posexplode — no shuffle; the shared
    candidate-generation step of batch and streaming span dedup."""
    if span_words < 1:
        raise ValueError("span_words must be >= 1")
    words = F.split(F.col(text_col), " ")
    # split() never yields an empty array ('' -> ['']), so the last
    # span index (size-1) div span_words is always well-defined.
    last = ((F.size(words) - F.lit(1)) - F.pmod(F.size(words) - F.lit(1),
                                                F.lit(span_words))) \
        / F.lit(span_words)
    spans = F.transform(
        F.sequence(F.lit(0), last.cast("int")),
        lambda i: F.concat_ws(" ", F.slice(words, i * span_words + 1,
                                           span_words)))
    return df.select(F.col(id_col),
                     F.posexplode(spans).alias("pos", "span"))


def span_first_flags(ex: DataFrame, id_col: str = "__id",
                     hash_fn=None) -> DataFrame:
    """(id_col, pos, __kept) for a (id_col, pos, span) frame: __kept
    marks the corpus-wide FIRST occurrence of each exact span
    (earlier id wins; within a doc, earlier pos) — hash-keyed with
    collision re-check, the `exact_keep_first` protocol at span
    granularity, shared by batch span_dedup and the streaming
    within-batch pass.

    Scale shape: the first pass shuffles ONLY (xxhash64(span), id,
    pos) — 8 bytes of key per span, never the span text. Hash groups
    with >1 member (genuine duplicates, plus collisions at
    P ≈ n²/2⁶⁵) are re-checked grouped on the REAL span, so a 64-bit
    collision between distinct spans can never cut a first
    occurrence; span text shuffles only for those rows.

    `hash_fn` (span Column -> Column) exists for the fuzz suite: a
    deliberately weak hash (e.g. xxhash64 mod 4) floods the re-check
    path with cross-span collisions, proving the flags still equal
    the text-keyed plan's."""
    hf = hash_fn or (lambda c: F.xxhash64(c))
    nx = ex.select(id_col, "pos",
                   hf(F.col("span")).alias("__h"))
    g = (nx.groupBy("__h")
           .agg(F.min(F.struct(id_col, "pos")).alias("__w"),
                F.count(F.lit(1)).alias("__n")))
    nj = nx.join(g, "__h")
    solo = (nj.where(F.col("__n") == 1)
              .select(id_col, "pos", F.lit(True).alias("__kept")))
    multi_h = g.where(F.col("__n") > 1).select("__h")
    multi_ex = (ex.withColumn("__h", hf(F.col("span")))
                  .join(multi_h, "__h", "left_semi"))
    fm = (multi_ex.groupBy("span")
                  .agg(F.min(F.struct(id_col, "pos")).alias("__w2")))
    multi = (multi_ex.join(fm, "span")
             .select(id_col, "pos",
                     (F.struct(id_col, "pos") == F.col("__w2"))
                     .alias("__kept")))
    return solo.unionByName(multi)


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               span_words: int = 20) -> DataFrame:
    """Exact substring dedup at span granularity (the ExactSubstr
    policy of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", restricted to aligned windows): split
    each document into consecutive non-overlapping `span_words`-word
    spans (trailing partial span included), keep only the FIRST
    corpus-wide occurrence of each exact span (earlier doc id wins;
    within a doc, earlier position), and reassemble the surviving
    spans in document order.

    Returns (id_col, n_spans, n_kept, dedup_text) — one row per
    document WITH TEXT; a fully-duplicated document comes back with
    n_kept = 0 and dedup_text = ''. NULL-text rows have no spans and
    are absent from the output — LEFT-join back on id_col to carry
    them (and the other columns) through unchanged, as the streaming
    variant does. CONTRACT: id_col must be unique per row (it is a
    document id); duplicate ids make the merged reassembly
    ill-defined (positions from different rows collide) —
    de-duplicate ids upstream.

    Plan: one window shuffle partitioned by the raw span text (the
    first-occurrence row_number) and the per-doc reassembly
    aggregate — two exchanges. It is the only plan because a
    hash-keyed one that kept span text out of the shuffles measured
    slower at every rehearsed scale (1x/10x/100x sf0.1 replicas,
    SCALE_REHEARSAL_r0{6,7,8}_100x.json: 4.5-17.5 s text-keyed vs
    34.1-99.3 s hash-keyed at 100x). span_first_flags (the
    hash-keyed kept-flag variant of the exact_keep_first protocol)
    is the streaming legs' within-batch pass. The aligned-window
    policy itself is what keeps the plan join-free (a suffix-array
    ExactSubstr needs global sort order)."""
    from pyspark.sql import Window

    ex = doc_spans(df, id_col, text_col, span_words) \
        .withColumnRenamed(id_col, "__id")
    w = Window.partitionBy("span").orderBy("__id", "pos")
    flagged = ex.withColumn("__rn", F.row_number().over(w))
    return (flagged.groupBy("__id")
            .agg(*span_reassembly_aggs(F.col("__rn") == 1))
            .withColumnRenamed("__id", id_col))


def span_reassembly_aggs(kept: Column) -> list:
    """The per-document reassembly aggregates shared by batch
    span_dedup and the streaming index variant: span count, kept
    count, and the surviving spans re-joined in position order
    (collect_list skips the un-kept NULLs; array_sort on the
    (pos, span) struct restores document order)."""
    return [F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(
                    F.when(kept, F.struct(F.col("pos"), F.col("span"))))),
                lambda s: s["span"])).alias("dedup_text")]


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = 2_147_483_647  # 2^31 - 1

#: Portable-hash constants: the `portable=True` pipeline replaces
#: xxhash64 with arithmetic any ANSI-SQL engine reproduces bit-for-bit
#: (the DuckDB correctness oracle inlines these as literals). Token
#: hash = top 60 bits of md5 (`conv(substr(md5(tok),1,15),16,10)` /
#: `cast('0x'||substr(md5(tok),1,15) as bigint)`); multi-value
#: combines fold with h = (h*A + x) % M, all intermediates < 2^62 so
#: neither engine overflows ANSI bigint. xxhash64 stays the scale
#: default — md5 costs ~2-3x per token but both are JVM codegen.
_PORT_A = 1_000_003


def _port_sentinel(j: int) -> int:
    """Padding sentinel for a missing lead-j token hash (documents
    shorter than shingle_n); distinct per position, mirrored as a
    literal in the SQL oracle."""
    return 1_000_000_007 + 2 * (j - 1)


def _port_tok_hash(col: Column) -> Column:
    """60-bit md5-derived token hash reduced mod 2^31-1 (positive, so
    Spark pmod == SQL `%`)."""
    h60 = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.pmod(h60, F.lit(_MERSENNE31))


def _port_fold(parts: list[str]) -> str:
    """h = ((p0*A + p1) % M * A + p2) % M ... — the portable ordered
    combine of already-reduced values, over SQL fragments."""
    h = parts[0]
    for p in parts[1:]:
        h = f"pmod({h} * {_PORT_A} + {p}, {_MERSENNE31})"
    return h


def _mix64(*parts: int) -> int:
    """Deterministic splitmix-style integer mix (no runtime RNG)."""
    z = 0x9E3779B97F4A7C15
    for p in parts:
        z = (z ^ (p + 0x9E3779B97F4A7C15)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        z ^= z >> 31
    return z


def shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                   shingle_n: int = 3, distinct: bool = True,
                   full_only: bool = False,
                   portable: bool = False,
                   keep_pos: bool = False) -> DataFrame:
    """(id, h): one row per DISTINCT word-shingle per document, with
    the shingle as a 64-bit hash — never as a string. Pass
    distinct=False to keep one row per position (MinHash doesn't need
    the dedup — min over the multiset equals min over the set — and
    skipping it saves an aggregation on its hottest path).

    `full_only=True` drops the sentinel-padded pos-0 row that keeps
    sub-n-token documents representable for MinHash: set-overlap
    consumers (contamination) must see NO shingles for short docs —
    matching functions.text.shingles and any SQL oracle — or a
    2-token corpus doc sharing leading tokens with a short benchmark
    doc would count as overlap.

    This is the codegen-fast shingle pipeline shared by MinHash and
    Jaccard: split → posexplode → xxhash64 per token, then a window
    lead stitches n consecutive token hashes into one multi-column
    xxhash64 (no interpreted higher-order lambda ever builds a
    shingle string — those are 5-10x slower and dominated the old
    profile). Documents shorter than n tokens keep one row (pos 0)
    with sentinel-padded lead hashes. Distinct-shingle semantics
    match functions.text.shingles up to 64-bit hash collisions
    (P ≈ m²/2⁶⁴ for m distinct shingles — negligible below ~10⁹).

    `portable=True` swaps xxhash64 for the md5-derived mod-2³¹-1
    arithmetic family (_port_tok_hash/_port_fold) that an ANSI-SQL
    oracle reproduces bit-for-bit; the plan shape — one shuffle,
    window stitch, codegen hashes — is identical."""
    from pyspark.sql import Window

    # ONE shuffle, of the COMPACT doc rows (id, text), hash-keyed by
    # id BEFORE the explode: r10 restructure of the old two-shuffle
    # shape (round-robin spread of text, then exploded token STRINGS
    # re-shuffled by id — the exchange carried [id, pos, tok] with
    # the token hash computed only on the far side). Partitioning by
    # id spreads the explode work exactly like spread() did, text
    # bytes ≈ token bytes but without the ~24 B/token row overhead,
    # and the generate preserves the partitioning so the window, the
    # distinct, and callers' groupBy(id) all reuse it — zero further
    # exchanges. Explicit numPartitions (not AQE-sized): the post-
    # explode rows are narrow, AQE would coalesce the tiny-input case
    # to 1-2 partitions and serialize the CPU-heavy window; a
    # user-specified count is exempt. Never shrink what the scan
    # already spread (the 100 TB path keeps its splits).
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism
    docs = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("__text"))
    # Partition-count floor without double-executing composed inputs:
    # .rdd probing is only free on narrow plans (see
    # narrow_num_partitions); a shuffle-bearing input falls back to
    # the conf floor, which at real scale is >= the cluster's
    # configured shuffle width (never shrinks what an upstream
    # exchange already spread). A non-integer conf (e.g. "auto" on
    # managed platforms) falls back to the default parallelism.
    n_in = narrow_num_partitions(docs)
    if n_in is None:
        try:
            n_in = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            n_in = npart
    docs = docs.repartition(max(npart, n_in), "id")
    toks = docs.select(
        "id", F.posexplode(tokens(F.col("__text"))).alias("pos", "tok"))
    tok_hash = _port_tok_hash(F.col("tok")) if portable \
        else F.xxhash64("tok")
    th = toks.select("id", "pos", tok_hash.alias("h0"))
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("h0", j).over(w).alias(f"h{j}")
             for j in range(1, shingle_n)]
    stitched = th.select("id", "pos", "h0", *leads)
    last = F.col(f"h{shingle_n - 1}")
    if portable:
        sh_hash = F.expr(_port_fold(
            ["h0"] + [f"coalesce(h{j}, {_port_sentinel(j)})"
                      for j in range(1, shingle_n)]))
    else:
        sh_hash = F.xxhash64(*[
            F.coalesce(F.col(f"h{j}"), F.lit(-(j + 1))).cast("long")
            for j in range(shingle_n)])
    keep = last.isNotNull() if full_only \
        else (last.isNotNull() | (F.col("pos") == 0))
    if keep_pos:
        # positional consumers (winnowing) need (id, pos, h); the
        # distinct flag is meaningless there (positions are unique)
        return (stitched.where(keep)
                .select("id", "pos", sh_hash.alias("h")))
    out = (stitched
           .where(keep)
           .select("id", sh_hash.alias("h")))
    return out.distinct() if distinct else out


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, shingle_n: int = 3,
                       shingles: DataFrame | None = None,
                       portable: bool = False) -> DataFrame:
    """(id, sig array<bigint>): MinHash signature over word-shingles.

    Perf-critical design — every stage stays in whole-stage codegen:

    1. shingle hashes come from token hashes, not shingle strings:
       split → posexplode → xxhash64 per token (all codegen), then a
       window lead stitches n consecutive token hashes into one
       multi-column xxhash64. No interpreted higher-order function
       ever builds a shingle string (transform/element_at lambdas are
       interpreted row-by-row and dominated the old profile).
    2. the hash family is universal (a_i·h + b_i) mod (2^31-1) — 64
       multiply-adds per shingle instead of 64 string hashes, as flat
       codegen'd aggregate expressions. Arithmetic stays < 2^62 so
       ANSI mode never overflows.
    3. the window partitions by id and the final groupBy groups by id
       — Catalyst reuses the hash partitioning, so the whole job is
       ONE shuffle carrying (id, token hash), and the output shuffle
       is (id, 64×long), independent of document size.

    Min over a multiset equals min over the set, so positional
    (non-distinct) shingle_hashes feed the mins directly — no dedup
    aggregation on this hot path. Documents shorter than n tokens
    keep one row (pos 0) with sentinel-padded lead hashes — they
    still get a stable signature.

    `shingles` injects a precomputed (id, h) frame (same min-over-set
    identity makes distinct or positional frames equivalent here) so
    a composed pipeline — signatures AND exact verification — scans
    and stitches the corpus ONCE instead of once per stage."""
    sh = shingles if shingles is not None else \
        shingle_hashes(df, id_col, text_col, shingle_n, distinct=False,
                       portable=portable)
    base = sh.select(
        "id", F.pmod(F.col("h"), F.lit(_MERSENNE31)).alias("h"))
    mins = []
    for i in range(num_hashes):
        a = _mix64(2 * i) % _MERSENNE31 or 1
        b = _mix64(2 * i + 1) % _MERSENNE31
        mins.append(f"min(pmod({a} * h + {b}, {_MERSENNE31}))")
    return base.groupBy("id").agg(
        F.expr(f"array({', '.join(mins)})").alias("sig"))


def minhash_bands(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 64, bands: int = 16,
                  shingle_n: int = 3,
                  shingles: DataFrame | None = None,
                  portable: bool = False) -> DataFrame:
    """(id, band, band_hash): each document's LSH band fingerprints —
    `bands` rows per doc, each hashing `num_hashes/bands` consecutive
    minhashes. Two docs sharing ANY (band, band_hash) row are LSH
    candidates; this frame is the joinable/persistable form of that
    relation (minhash_lsh_candidates self-joins it; the streaming
    near-dup index appends it per batch and equi-joins new batches
    against it)."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> str:
        if portable:
            return _port_fold([
                f"element_at(sig, {b * rows_per_band + 1 + j})"
                for j in range(rows_per_band)])
        return (f"xxhash64(slice(sig, {b * rows_per_band + 1}, "
                f"{rows_per_band}))")

    hashes = ", ".join(band_hash(b) for b in range(bands))
    return (minhash_signatures(df, id_col, text_col, num_hashes, shingle_n,
                               shingles=shingles, portable=portable)
              .selectExpr("id", f"posexplode(array({hashes}))"
                                " AS (band, band_hash)"))


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 64, bands: int = 16,
                           shingle_n: int = 3,
                           shingles: DataFrame | None = None,
                           portable: bool = False) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from LSH banding.

    rows/band-bucket stay bounded because a bucket only collects docs
    agreeing on `num_hashes/bands` consecutive minhashes; the
    candidate join is an equi-join on (band, band_hash) so it
    co-partitions — no cross join at any scale. `shingles` passes a
    precomputed (id, h) frame through to minhash_signatures.
    `portable=True` makes every hash (token, shingle, band) the
    SQL-replicable arithmetic family — the candidate SET is then a
    deterministic function an external oracle computes exactly."""
    banded = minhash_bands(df, id_col, text_col, num_hashes, bands,
                           shingle_n, shingles=shingles, portable=portable)
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.band_hash") == F.col("b.band_hash"),
                       F.col("a.id") < F.col("b.id")])
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .distinct())


#: default posting-list cap: bounds the pair-finding join at
#: max_posting² pairs per shingle, so one boilerplate shingle can never
#: make the self-join quadratic in corpus size. Pairs that are FOUND
#: are still scored exactly (full shingle sets); only pairs whose
#: entire overlap is hot shingles are missed — the pairs the cap
#: exists to avoid.
DEFAULT_MAX_POSTING = 1000


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 3, threshold: float = 0.0,
                  candidates: DataFrame | None = None,
                  max_posting: int | None = DEFAULT_MAX_POSTING,
                  exact: bool = False,
                  shingles: DataFrame | None = None,
                  metric: str = "jaccard") -> DataFrame:
    """N-gram Jaccard similarity for document pairs; every returned
    pair's jaccard value is exact.

    Without `candidates` this finds pairs sharing ≥1 shingle via an
    inverted-index self-join (posting-list join). The join cost is
    Σ df(s)² over shingles s, so by DEFAULT postings longer than
    `max_posting` (hot/boilerplate shingles) are dropped from the
    pair-FINDING step — the scale-safe mode; found pairs are then
    re-scored on full shingle sets, so returned values stay exact.
    Pass ``exact=True`` (or ``max_posting=None``) for the fully
    exhaustive join — the oracle/auditing path, quadratic in the
    hottest posting and NOT safe at 100 TB.

    With `candidates` (e.g. from minhash_lsh_candidates) the
    posting-list join is skipped entirely: each candidate pair's
    intersection is counted by a candidate-restricted posting join —
    work proportional to Σ|shingles(id_a)| over candidates, not
    |pairs sharing a shingle|. Output: id_a < id_b, and the score
    column named after `metric`: jaccard ∈ (0,1] (default) or
    containment = |A∩B| / min(|A|,|B|) — the subset-duplicate
    metric (a doc quoted whole inside a larger one scores 1.0).

    All shingles travel as 64-bit hashes (shingle_hashes) — every
    stage is a codegen equi-join/aggregate; no shingle string or
    interpreted array lambda is ever built.

    `shingles` injects an (already materialized) DISTINCT (id, h)
    frame so composed pipelines share one corpus scan; when omitted,
    one is built and checkpointed here with full_only=True — true
    n-gram set semantics: a document shorter than `shingle_n` tokens
    has NO shingles and never pairs (surfaced by the random-corpus
    fuzz: two identical 1-token docs scored 1.0 through MinHash's
    sentinel-padded row while the SQL oracle correctly returned no
    pair). The minhash_dedup_pairs composition deliberately passes
    its sentinel-padded frame instead, where short identical docs DO
    pair — matching ITS oracle's replicated sentinel arithmetic."""
    if exact:
        max_posting = None
    # localCheckpoint (eager): the shingle frame feeds the size
    # aggregate AND both sides of the pair join — without
    # materialization Spark re-runs the whole token/window pipeline
    # per consumer (plans are trees, common subplans don't dedupe).
    # localCheckpoint, NOT persist() — r10 measured the trade both
    # ways at 1x and 10x: a DataFrame persist keeps the frame's
    # hashpartitioning(id) visible (saving one narrow exchange per
    # groupBy(id) consumer) but stores COLUMNAR batches whose decode
    # costs ~5x a raw checkpoint-block read per consumer scan
    # (sizes agg at 10x: 2.6 s cached vs 0.5 s checkpointed task
    # time; 4 consumer scans made the whole query 4.5 s -> 6.2 s).
    # Raw deserialized checkpoint blocks win despite the re-added
    # exchange; blocks release via ContextCleaner when the plan's
    # RDDs are collected.
    sh = shingles if shingles is not None else \
        eager_checkpoint(shingle_hashes(df, id_col, text_col, shingle_n,
                                        full_only=True), "shingles")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    if candidates is None and max_posting is not None:
        # Short-circuit the skew guard when no posting exceeds the
        # cap (the common case): one cheap aggregate over the
        # checkpointed shingle frame decides at plan time, so the
        # benign case runs the plain self-join below — genuinely the
        # same cost as exact=True — instead of paying an always-on
        # anti-join + hot-correction subtree.
        hot = (sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
                 .where(F.col("df") > max_posting).select("h"))
        if hot.limit(1).count() == 0:
            max_posting = None

    if candidates is None and max_posting is None:
        # fully exhaustive: direct posting self-join (exact=True, the
        # oracle/auditing path — quadratic in the hottest posting; or
        # the capped default when the probe found no hot postings, in
        # which case it is NOT quadratic by construction)
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (a.join(b, [F.col("a.h") == F.col("b.h"),
                            F.col("a.id") < F.col("b.id")])
                  .groupBy(F.col("a.id").alias("id_a"),
                           F.col("b.id").alias("id_b"))
                  .agg(F.count(F.lit(1)).alias("inter")))
    elif candidates is not None:
        # exact intersection count restricted to the given candidate
        # pairs: fan each pair out to id_a's shingles, keep those
        # id_b also has — Σ|sh(id_a)| rows, never quadratic
        sa = sh.select(F.col("id").alias("id_a"), "h")
        sb = sh.select(F.col("id").alias("id_b"), "h")
        inter = (candidates.select("id_a", "id_b")
                 .join(sa, "id_a").join(sb, ["id_b", "h"])
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("inter")))
    else:
        # Skew guard (the DEFAULT): drop shingles appearing in more
        # than max_posting documents from the PAIR-FINDING join — the
        # classic stop-shingle cap. The posting-list join cost is
        # sum(df(s)^2) over shingles s, so one boilerplate trigram in
        # a million docs is 10^12 pairs; capping bounds it at
        # max_posting^2 per shingle. The cold self-join counts the
        # cold part of each pair's intersection directly; the hot
        # part is added back by a pair-restricted join against just
        # the hot postings. Every
        # returned jaccard is exact; the only approximation is that
        # pairs whose ENTIRE overlap is hot shingles are never found
        # (near-dups share rare shingles; boilerplate-only matches
        # are the pairs the cap exists to avoid). `hot` comes from
        # the short-circuit probe above — nonempty, or we wouldn't
        # be on this branch.
        cold = sh.join(hot, "h", "left_anti")
        ca = cold.alias("a")
        cb = cold.alias("b")
        inter_cold = (ca.join(cb, [F.col("a.h") == F.col("b.h"),
                                   F.col("a.id") < F.col("b.id")])
                        .groupBy(F.col("a.id").alias("id_a"),
                                 F.col("b.id").alias("id_b"))
                        .agg(F.count(F.lit(1)).alias("inter_c")))
        hot_rows = sh.join(hot, "h", "left_semi")
        ha = hot_rows.select(F.col("id").alias("id_a"), "h")
        hb = hot_rows.select(F.col("id").alias("id_b"), "h")
        inter_hot = (inter_cold.select("id_a", "id_b")
                     .join(ha, "id_a").join(hb, ["id_b", "h"])
                     .groupBy("id_a", "id_b")
                     .agg(F.count(F.lit(1)).alias("inter_h")))
        inter = (inter_cold.join(inter_hot, ["id_a", "id_b"], "left")
                 .select("id_a", "id_b",
                         (F.col("inter_c")
                          + F.coalesce(F.col("inter_h"), F.lit(0)))
                         .alias("inter")))

    na = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    joined = inter.join(na, "id_a").join(nb, "id_b")
    if metric == "jaccard":
        val = (F.col("inter").cast("double")
               / (F.col("n_a") + F.col("n_b") - F.col("inter")))
    elif metric == "containment":
        # overlap normalized by the SMALLER set: a document quoted or
        # embedded whole inside a larger one scores 1.0 where jaccard
        # dilutes toward |small|/|large| — the subset-duplicate metric
        val = (F.col("inter").cast("double")
               / F.least(F.col("n_a"), F.col("n_b")))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = joined.withColumn(metric, val).select("id_a", "id_b", metric)
    return out.where(F.col(metric) >= threshold) if threshold else out


def lsh_tune(target_jaccard: float, target_recall: float,
             max_hashes: int = 256,
             s_noise: float | None = None,
             max_noise_catch: float = 0.25) -> dict:
    """Choose the cheapest MinHash-LSH banding scheme meeting a
    recall target — the closed tuning loop over the S-curve
    P(catch | s) = 1 - (1 - s^r)^b that lsh_recall_report measures
    empirically. A scheme (b bands of r rows, b*r hashes) is
    feasible when BOTH ends of the curve hold:

    - P(target_jaccard) >= target_recall  (catch the near-dups);
    - P(s_noise) <= max_noise_catch       (don't flood verification
      with sub-threshold pairs — at 100 TB the exact-Jaccard verify
      of candidate pairs, not the signature pass, is the dominant
      cost, so an unconstrained tuner degenerating to r=1 "cheap"
      schemes would be a scale bug dressed as an optimization).

    Among feasible schemes the winner minimizes total hashes, ties
    preferring the LARGER r (steeper curve, fewer borderline
    candidates). Pure driver-side math — validate the choice on
    data with lsh_recall_report(df, ..., num_hashes=t["num_hashes"],
    bands=t["bands"], threshold=target_jaccard); the measured
    recall generalizes because the S-curve depends on (b, r), not
    corpus size.

    Returns {bands, rows_per_band, num_hashes, predicted_recall,
    noise_similarity, predicted_noise_catch}; s_noise defaults to
    half the target similarity (the "unrelated pair" operating
    point). Raises ValueError when no scheme within max_hashes
    satisfies both constraints — raise the budget, not the noise
    ceiling."""
    import math

    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("lsh_tune: target_jaccard must be in (0,1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("lsh_tune: target_recall must be in (0,1)")
    sn = target_jaccard / 2.0 if s_noise is None else s_noise

    def catch(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    best = None
    for r in range(1, max_hashes + 1):
        pr = target_jaccard ** r
        b_cap = max_hashes // r
        if pr <= 0.0 or b_cap < 1:
            break
        if pr >= 1.0:
            b = 1
        else:
            # analytic bound, then a float-exact refinement bounded
            # by the budget (an uncapped b += 1 walk from a huge
            # analytic b never terminates in float precision)
            denom = math.log1p(-pr)
            if denom == 0.0 or \
                    math.log1p(-target_recall) / denom > b_cap:
                continue
            b = max(1, math.ceil(math.log1p(-target_recall) / denom))
            while b <= b_cap and catch(target_jaccard, b, r) \
                    < target_recall:
                b += 1
        if b > b_cap or catch(target_jaccard, b, r) < target_recall:
            continue
        if catch(sn, b, r) > max_noise_catch:
            continue          # more bands only raises the noise catch
        key = (b * r, -r)
        if best is None or key < best[:2]:
            best = (b * r, -r, b, r)
    if best is None:
        raise ValueError(
            f"lsh_tune: no (bands, rows) within {max_hashes} hashes "
            f"reaches recall {target_recall} at s={target_jaccard} "
            f"with noise catch <= {max_noise_catch} at s={sn}")
    _, _, b, r = best
    return {"bands": b, "rows_per_band": r, "num_hashes": b * r,
            "predicted_recall": catch(target_jaccard, b, r),
            "noise_similarity": sn,
            "predicted_noise_catch": catch(sn, b, r)}


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 64, bands: int = 16,
                        shingle_n: int = 3,
                        threshold: float = 0.0,
                        portable: bool = False,
                        target_recall: float | None = None,
                        max_hashes: int = 256) -> DataFrame:
    """The standard near-dup pipeline in ONE corpus scan: shingle →
    MinHash signatures → LSH banding candidates → exact Jaccard on
    the candidates.

    Composing the stages by hand scans and window-stitches the text
    twice (signatures build their own shingle frame, verification
    builds another) — at 100 TB that is two full corpus passes where
    one suffices. Here a single DISTINCT (id, h) frame is
    materialized once (localCheckpoint) and feeds both: min over the
    distinct set equals min over the positional multiset, so the
    signatures are unchanged, and the verification join is exactly
    jaccard_pairs' own frame.

    `portable=True` runs the whole pipeline on the SQL-replicable
    hash family (shingle_hashes docstring) so an external oracle can
    reproduce the exact output — candidates, jaccards, and all.

    `target_recall` switches (num_hashes, bands) from the textbook
    defaults to lsh_tune's cheapest scheme meeting that recall at
    s=threshold — the measured-not-guessed configuration
    lsh_recall_report exists to validate (requires threshold > 0:
    the S-curve needs an operating similarity)."""
    if target_recall is not None:
        if not threshold:
            raise ValueError("minhash_dedup_pairs: target_recall "
                             "needs a similarity threshold > 0")
        t = lsh_tune(threshold, target_recall, max_hashes=max_hashes)
        num_hashes, bands = t["num_hashes"], t["bands"]
    # localCheckpoint, not persist — raw block reads beat columnar
    # cache decode across this frame's many consumer scans (measured
    # r10; see jaccard_pairs)
    sh = eager_checkpoint(
        shingle_hashes(df, id_col, text_col, shingle_n,
                       portable=portable), "shingles")
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes,
                                   bands, shingle_n, shingles=sh,
                                   portable=portable)
    return jaccard_pairs(df, id_col, text_col, shingle_n, threshold,
                         candidates=cands, shingles=sh)


def lsh_recall_report(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.5,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3,
                      portable: bool = False) -> DataFrame:
    """Measured recall/precision of the MinHash-LSH banding scheme
    against ground-truth Jaccard — the tuning harness for
    (num_hashes, bands) at a target similarity threshold. Running
    blind with textbook (b, r) is how production dedup silently
    misses half its near-dups; this report turns the S-curve
    guarantee into a number measured on YOUR corpus.

    Output (1 row): n_true (pairs with exact jaccard >= threshold),
    n_cand (LSH candidate pairs, pre-verification), n_hit (their
    intersection), recall = n_hit/n_true, precision = n_hit/n_cand
    (NULL where the denominator is 0). All ratios are double
    divisions of exact integer counts — cross-engine bit-stable.

    One corpus scan: a single DISTINCT (id, h) shingle frame
    (localCheckpoint) feeds the ground-truth join AND the signature
    pipeline (the minhash_dedup_pairs trick). The ground-truth side
    is the EXHAUSTIVE posting join (max_posting=None) — quadratic in
    the hottest posting and deliberately so (an audit that silently
    caps postings would overstate recall); at 100 TB this runs on a
    hash_sample'd slice, not the full corpus, and the report
    generalizes because recall is a property of the (b, r) S-curve,
    not of corpus size."""
    sh = eager_checkpoint(
        shingle_hashes(df, id_col, text_col, shingle_n,
                       portable=portable), "shingles")
    true_pairs = jaccard_pairs(df, id_col, text_col, shingle_n,
                               threshold=threshold, shingles=sh,
                               max_posting=None)
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes,
                                   bands, shingle_n, shingles=sh,
                                   portable=portable)
    t = true_pairs.select("id_a", "id_b").withColumn("it", F.lit(1))
    c = cands.select("id_a", "id_b").withColumn("ic", F.lit(1))
    j = t.join(c, ["id_a", "id_b"], "full")
    # coalesce AFTER the sum too: an entirely empty pair frame (no
    # true pairs, no candidates) sums to NULL, and the report's
    # contract is exact zeros with NULL recall/precision
    n_true = F.coalesce(F.sum(F.coalesce(F.col("it"), F.lit(0))),
                        F.lit(0).cast("long"))
    n_cand = F.coalesce(F.sum(F.coalesce(F.col("ic"), F.lit(0))),
                        F.lit(0).cast("long"))
    n_hit = F.coalesce(F.sum(F.when(F.col("it").isNotNull()
                                    & F.col("ic").isNotNull(), 1)
                             .otherwise(0)),
                       F.lit(0).cast("long"))
    return (j.agg(n_true.alias("n_true"), n_cand.alias("n_cand"),
                  n_hit.alias("n_hit"))
             .select("n_true", "n_cand", "n_hit",
                     (F.col("n_hit").cast("double")
                      / F.when(F.col("n_true") > 0, F.col("n_true"))
                      .cast("double")).alias("recall"),
                     (F.col("n_hit").cast("double")
                      / F.when(F.col("n_cand") > 0, F.col("n_cand"))
                      .cast("double")).alias("precision")))


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contamination(df: DataFrame, id_col: str, text_col: str,
                  bench: DataFrame, bench_id_col: str, bench_text_col: str,
                  shingle_n: int = 3,
                  broadcast_bench: bool = True) -> DataFrame:
    """(id, n_overlap): how many DISTINCT word-shingles each corpus
    document shares with the benchmark/eval set — the training-data
    decontamination signal (the n-gram overlap check used to keep
    eval answers out of training corpora).

    Scale shape: the benchmark's distinct shingle-hash set is tiny
    (eval sets are thousands of documents), so it broadcasts and the
    corpus side is one scan + codegen semi-join + groupBy — linear in
    corpus size, no shuffle of text. Set broadcast_bench=False for an
    unusually large benchmark (falls back to a shuffle semi-join).

    Documents shorter than shingle_n tokens contribute NO shingles on
    either side (full_only) — set-overlap semantics match
    functions.text.shingles and the SQL oracle; without this, the
    sentinel-padded pos-0 row MinHash needs would make a 1-2-token
    corpus doc sharing leading tokens with a short benchmark doc
    count as contamination."""
    sh = shingle_hashes(df, id_col, text_col, shingle_n, full_only=True)
    bh = (shingle_hashes(bench, bench_id_col, bench_text_col, shingle_n,
                         full_only=True)
          .select("h").distinct())
    if broadcast_bench:
        bh = F.broadcast(bh)
    return (sh.join(bh, "h", "left_semi")
              .groupBy("id").agg(F.count(F.lit(1)).alias("n_overlap")))


def decontaminate(df: DataFrame, id_col: str, text_col: str,
                  bench: DataFrame, bench_id_col: str, bench_text_col: str,
                  shingle_n: int = 3, min_overlap: int = 1,
                  broadcast_bench: bool = True) -> DataFrame:
    """Drop corpus documents sharing >= min_overlap distinct shingles
    with the benchmark set; everything else passes through untouched
    (anti-join on the contaminated ids — wide rows never shuffle)."""
    bad = (contamination(df, id_col, text_col, bench, bench_id_col,
                         bench_text_col, shingle_n, broadcast_bench)
           .where(F.col("n_overlap") >= min_overlap)
           .select(F.col("id").alias(id_col)))
    return df.join(bad, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_df(df: DataFrame, id_col: str, text_col: str,
               bits: int = 64, portable: bool = False) -> DataFrame:
    """(id, sig): 64-bit SimHash of each document's token multiset.

    Per token t: h = xxhash64(t); bit b votes +1/-1 by (h>>b)&1; the
    signature sets bit b iff the vote sum is positive. Shape: explode
    tokens → one hash per row → posexplode an array of ceil(bits/2)
    PACKED LANES (lane j carries bit 2j's 0/1 in its low half and bit
    2j+1's in bits 32..63 of one long) → groupBy(id, lane) sum →
    groupBy(id) unpacks both counters per lane and packs
    `if(2*s > n, 1<<b, 0)` into the signature. The two-bits-per-row
    packing (r11) halves the generator output and the vote-agg rows
    of the old one-bit-per-row shape — measured 1.37x at 10x data and
    at parity at sf0.1 with ~2x less plan/codegen time (first-run
    3.1 s → 1.4 s). 32-bit lanes cannot carry into each other below
    2^32 tokens per document; a 2 GB Spark string caps token counts
    orders of magnitude lower.

    Why narrow aggregations instead of one `bits`-column-wide one: a
    single groupBy(id) with 64 sum buffers plus a 64-term packing
    chain generates a janino method large enough that codegen
    compilation alone cost ~4 s per fresh JVM (measured r5, STILL
    true on Spark 4.1.2: first-run 7.6 s, and warm runs ~2x slower
    than the exploded shape at sf0.1 — OPTIMIZATION_r11.md V1). The
    packed one-agg variant (30 lane sums, no explode) also measured
    slower warm (1.96 s vs 1.15/1.20 s); the generator + hash-agg
    span is what codegen executes well. Both aggs partial-aggregate
    map-side, so the only shuffle carries (id, lane, partial-sum) at
    ≤ ceil(bits/2) rows per doc per partition — independent of
    document size.

    `portable=True` hashes tokens with the 60-bit md5 family
    (`cast('0x'||substr(md5(t),1,15) as bigint)` in SQL) so an
    external oracle reproduces the signature bit-for-bit; pass
    bits<=60 with it (only the hash's low `bits` bits vote)."""
    if portable:
        tok_hash = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10) \
                    .cast("long")
    else:
        tok_hash = F.xxhash64("t")
    tok = (spread(df).select(F.col(id_col).alias("id"),
                             F.explode(tokens(F.col(text_col))).alias("t"))
             .select("id", tok_hash.alias("h")))
    # Lane elements are bare shift/and packings of the 0/1 bits — NOT
    # the ±1 vote (bit*2-1): the extra checked multiply/subtract
    # inside the generator input measured 3x slower end-to-end
    # (5.5 s vs 1.9 s at sf0.1), so the ±1 recentering is done on the
    # aggregated side instead: vote sum v = 2*s - n > 0 ⟺ 2*s > n.
    def _lane(j: int) -> str:
        lo = f"(shiftright(h, {2 * j}) & 1)"
        if 2 * j + 1 >= bits:       # odd `bits`: last lane low half only
            return f"CAST({lo} AS BIGINT)"
        hi = f"(shiftright(h, {2 * j + 1}) & 1)"
        return f"CAST((shiftleft({hi}, 32) | {lo}) AS BIGINT)"

    lanes = ", ".join(_lane(j) for j in range((bits + 1) // 2))
    votes = (tok.selectExpr("id", f"posexplode(array({lanes})) AS (j, lane)")
                .groupBy("id", "j")
                .agg(F.sum("lane").alias("s"), F.count(F.lit(1)).alias("n")))
    pair = F.expr(
        "if(2*(s & 4294967295) > n, shiftleft(1L, cast(2*j as int)), 0L)"
        " + if(2*shiftrightunsigned(s, 32) > n,"
        "      shiftleft(1L, cast(2*j+1 as int)), 0L)")
    return votes.groupBy("id").agg(F.sum(pair).alias("sig"))


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       bands: int = 4, bits: int = 64,
                       portable: bool = False) -> DataFrame:
    """Near-dup candidates by SimHash banding: docs agreeing on any
    (bits/bands)-wide band of their signature (Hamming ≤ bands-1 is
    guaranteed recalled; verify with `hamming64` afterwards).
    `portable=True` (pair with bits=60) keeps every hash
    SQL-replicable — see simhash_df."""
    width = bits // bands
    mask = (1 << width) - 1
    # Materialize the signatures ONCE before the self-join: the two
    # join branches are separate subtrees to Spark (no exchange reuse
    # fires), so without this the token explode + 64-sum vote
    # aggregation — the whole cost of SimHash — would run twice per
    # query. The persisted frame is |docs| narrow (id, sig) rows; the
    # banding re-derived on each side is a handful of codegen'd bit
    # ops over that. localCheckpoint, not persist (r10): raw block
    # reads beat columnar cache decode across repeated consumer
    # scans (measured on the shingle frame; see jaccard_pairs). The
    # call is EAGER — it runs the signature job immediately and pins
    # non-replicated blocks, so lost executors mean rerunning the
    # call rather than lineage recompute.
    sig = eager_checkpoint(
        simhash_df(df, id_col, text_col, bits, portable), "simhash_sig")
    band_vals = ", ".join(f"(shiftright(sig, {b * width}) & {mask})"
                          for b in range(bands))
    banded = sig.selectExpr(
        "id", "sig", f"posexplode(array({band_vals})) AS (band, band_val)")
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.band_val") == F.col("b.band_val"),
                       F.col("a.id") < F.col("b.id")])
             .select(F.col("a.id").alias("id_a"), F.col("a.sig").alias("sig_a"),
                     F.col("b.id").alias("id_b"), F.col("b.sig").alias("sig_b"))
             .distinct())


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of a XOR b via bit_count (JVM built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_buckets(df: DataFrame, id_col: str, vec_col: str,
                      dim: int, num_planes: int = 8,
                      tables: int = 4) -> DataFrame:
    """(id, table, bucket): OR-amplified sign-LSH bucketing of an
    embedding column — `tables` independent hyperplane families
    (similarity.random_hyperplane_bucket with offsets 0, p, 2p, ...),
    one row per (row, table). Two vectors are JOIN candidates if they
    share a bucket in ANY table; recall for a pair at cosine c is
    1-(1-(1-θ/π)^planes)^tables (similarity._auto_recall). All
    bucket bits are JVM fold expressions over literal planes — the
    frame is cheap to persist and equi-joinable, which is what the
    streaming embedding-dedup index stores."""
    from sybil_spark.functions.sqltext import ident
    from sybil_spark.operators import similarity as S

    vec = ident(vec_col)
    buckets = ", ".join(
        S.random_hyperplane_bucket_sql(vec, dim, num_planes,
                                       plane_offset=t * num_planes)
        for t in range(tables))
    return df.selectExpr(f"{ident(id_col)} AS id",
                         f"posexplode(array({buckets})) AS (`table`, bucket)")


def embedding_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float, block_on: str | None = None,
                        block_rows: int = 2048, n_rows: int | None = None,
                        n_groups: int | None = None,
                        auto_block_threshold: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t).

    Candidate generation is dense linear algebra, so it runs as
    block-matrix numpy matmuls (same strategy as
    similarity.pairwise_topk): rows hash into ⌈group_rows/block_rows⌉
    blocks per group, each (i ≤ j) block-pair is one applyInPandas
    group computing an Arrow-batched float32 matmul and emitting only
    pairs with cos ≥ t − 1e-4 (the margin absorbs f32 rounding,
    ~1e-5 absolute on unit vectors). Survivors — a tiny set —
    are re-scored with the sequential-fold JVM cosine and filtered at
    exactly t, so the output values are bit-deterministic and
    oracle-matched while the O(n²·d) work stays in BLAS. 12.5M-pair
    sf0.1: 85 s interpreted self-join → ~2 s blocked.

    Scale defaults (similarity._prepare_blocks): pass `block_on` (an
    LSH bucket or ivf_assign cluster column) to restrict comparisons
    to co-bucketed rows; above `auto_block_threshold` rows
    (similarity.AUTO_BLOCK_THRESHOLD) an un-bucketed input derives a
    hyperplane-LSH bucket automatically, so the default can never go
    quadratic in table size. Pass `n_rows` (e.g. from table metadata)
    to skip the plan-sizing count job."""
    import pandas as pd

    from sybil_spark.functions.vectors import cosine
    from sybil_spark.operators import similarity as S

    if auto_block_threshold is None:
        auto_block_threshold = S.AUTO_BLOCK_THRESHOLD
    base, pairs = S._prepare_blocks(df, id_col, vec_col, block_on,
                                    block_rows, n_rows, n_groups,
                                    auto_block_threshold)

    # f32 candidate margin: the block matmul only NOMINATES pairs (the
    # JVM fold re-scores exactly and filters at exactly `threshold`),
    # so the margin just has to cover f32 cosine noise on unit vectors.
    # Worst-case accumulation error grows ~d·eps (eps_f32 ≈ 1.2e-7),
    # so a FIXED 1e-4 would under-cover above d≈850 and near-threshold
    # pairs could be dropped before the exact re-score ever saw them
    # (r9 ADVICE). Scale it with the dimension of the first vector in
    # each batch: max(1e-4, 2·d·eps). Wider margin = a few extra
    # candidates re-scored, never a wrong result.
    def _f32_margin(d: int) -> float:
        import numpy as np
        return max(1e-4, 2.0 * d * float(np.finfo(np.float32).eps))

    def local_pairs(key, pdf):
        import numpy as np
        _grp, pa, pb = key
        va = pdf[pdf.blk == pa]
        vb = pdf[pdf.blk == pb]
        if len(va) == 0 or len(vb) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        margin = _f32_margin(len(va.vec.iloc[0]))
        Xa = np.array([np.asarray(v, dtype=np.float32) for v in va.vec])
        Xb = np.array([np.asarray(v, dtype=np.float32) for v in vb.vec])
        Xa /= np.linalg.norm(Xa, axis=1, keepdims=True)
        Xb /= np.linalg.norm(Xb, axis=1, keepdims=True)
        sims = Xa @ Xb.T
        ia = va.id.to_numpy()
        ib = vb.id.to_numpy()
        hit = sims >= np.float32(threshold - margin)
        if pa == pb:
            hit &= ia[:, None] < ib[None, :]
        sa, sb = np.nonzero(hit)
        return pd.DataFrame({"id_a": np.minimum(ia[sa], ib[sb]),
                             "id_b": np.maximum(ia[sa], ib[sb])})

    cands = (pairs.groupBy("grp", "pa", "pb")
                  .applyInPandas(local_pairs, schema="id_a long, id_b long"))
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (cands.join(va, "id_a").join(vb, "id_b")
                 .select("id_a", "id_b",
                         cosine("vec_a", "vec_b").alias("cos"))
                 .where(F.col("cos") >= threshold))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   centroids: list[list[float]], threshold: float,
                   score_col: str | None = None,
                   block_rows: int = 2048,
                   keep_cluster_col: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with a fixed coarse quantizer, then within each
    cluster drop every row that has a higher-priority near-duplicate
    (cosine ≥ threshold). Returns the surviving rows of `df`
    unchanged (anti-join on loser ids — wide rows never shuffle);
    `keep_cluster_col` additionally carries each survivor's assigned
    cluster, reusing the one assignment pass.

    Priority: with `score_col`, the higher score wins (keep the
    best-quality copy; ties → lower id); without, lower id wins. The
    drop rule is the greedy EXISTS form — a row is dropped when ANY
    same-cluster neighbor at cosine ≥ threshold outranks it, whether
    or not that neighbor itself survives — deterministic and
    SQL-replicable with no iterative connected components. For the
    transitive-cluster flavor, feed `embedding_dup_pairs` output to
    `components` + `keep_cluster_representatives` instead.

    Scale: assignment is one Arrow-batched matmul pass over the
    table (`similarity.ivf_assign_batch`); candidate generation runs
    only within clusters (`embedding_dup_pairs(block_on=cluster)`),
    so comparison volume is Σ_c n_c² — the quantizer caps it, never
    corpus². This is the whole point of SemDeDup vs all-pairs
    embedding dedup."""
    if not centroids:
        raise ValueError("semantic_dedup: centroids must be non-empty")
    from sybil_spark.operators import similarity as S

    assigned = S.ivf_assign_batch(df, vec_col, centroids,
                                  cluster_col="__sem_cluster")
    pairs = embedding_dup_pairs(assigned, id_col, vec_col, threshold,
                                block_on="__sem_cluster",
                                block_rows=block_rows)
    if score_col is None:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    else:
        sc = df.select(F.col(id_col).alias("__sid"),
                       F.col(score_col).alias("__score"))
        p = (pairs
             .join(sc.select(F.col("__sid").alias("id_a"),
                             F.col("__score").alias("__sa")), "id_a")
             .join(sc.select(F.col("__sid").alias("id_b"),
                             F.col("__score").alias("__sb")), "id_b"))
        # null-safe priority: a scored row always outranks an
        # unscored one, and equal-or-both-null scores fall back to
        # "lower id wins" — a plain `>` comparison is NULL against a
        # NULL score, which would have routed the when() to otherwise
        # and dropped the scored (better) copy
        sa, sb = F.col("__sa"), F.col("__sb")
        a_wins = ((sa > sb)
                  | (sa.isNotNull() & sb.isNull())
                  | (sa.eqNullSafe(sb) & (F.col("id_a") < F.col("id_b"))))
        loser = F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a"))
        losers = p.select(loser.alias(id_col)).distinct()
    base = (assigned.withColumnRenamed("__sem_cluster", keep_cluster_col)
            if keep_cluster_col else df)
    return base.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------

def components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over (id_a, id_b) candidate pairs:
    returns (id, rep) where rep = min id reachable — the canonical
    keeper of each duplicate cluster.

    Algorithm: iterative min-label propagation. Each round every node
    takes the min of its own label and its neighbors' labels (one
    equi-join + one groupBy = two shuffles per round), stopping when
    a round changes nothing. Rounds needed = graph diameter; near-dup
    graphs are unions of small cliques, so 2-3 rounds in practice —
    this is the GraphX/GraphFrames CC algorithm without the GraphX
    dependency. Label frames are cached per round and the loop's
    convergence check is a cheap count, not a collect of labels."""
    edges = eager_checkpoint(
        pairs.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct(), "cc_edges")
    # localCheckpoint (not cache): iterative plans grow exponentially
    # in lineage — round N's plan embeds round N-1's twice (join +
    # convergence check). Checkpointing truncates the lineage each
    # round so the analyzer/optimizer see a flat scan, which is what
    # keeps round time CONSTANT as iterations accumulate.
    nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("rep", F.col("id")).localCheckpoint()
    # r10 round-cost cut (measured: the loop was ~30 tiny jobs and
    # pure job-turnaround overhead at bench scale; fewer stages per
    # round at every scale):
    # - SELF-LOOPS folded into the edge set once, so min(own,
    #   neighbors) is ONE join + groupBy per round instead of a
    #   neighbor join + groupBy + a second least/coalesce join;
    # - convergence via the MONOTONICITY of min-label propagation:
    #   reps never increase, so "no change" ⟺ Σrep unchanged — a
    #   1-row aggregate replaces the old/new join+count. Σ runs in
    #   decimal(38,0): exact at any node count / id magnitude.
    edges2 = (edges.unionByName(
                  nodes.select(F.col("id").alias("src"),
                               F.col("id").alias("dst")))
              .localCheckpoint())
    # The Σrep convergence shortcut is only sound for INTEGRAL ids:
    # cast to decimal(38,0) is exact there (reps never increase, so
    # unchanged sum ⟺ fixpoint), but a string/UUID rep casts to NULL
    # (sum NULL every round — None == None would "converge" after one
    # propagation round with wrong 1-hop labels) and a double rep can
    # falsely converge through cast rounding. Non-integral ids fall
    # back to the exact any-type check: since min-label reps are
    # monotone non-increasing for ANY orderable type, "no change" ⟺
    # no (id, rep) row differs from the previous round — an isEmpty
    # probe on the inequality join (r11, from round-10 advice).
    integral = isinstance(labels.schema["rep"].dataType,
                          (T_.ByteType, T_.ShortType, T_.IntegerType,
                           T_.LongType))
    prev_sum = None
    for _ in range(max_iter):
        new_labels = (edges2.join(labels.withColumnRenamed("id", "dst")
                                        .withColumnRenamed("rep", "nrep"),
                                  "dst")
                      .groupBy("src").agg(F.min("nrep").alias("rep"))
                      .withColumnRenamed("src", "id").localCheckpoint())
        if integral:
            cur = new_labels.agg(
                F.sum(F.col("rep").cast("decimal(38,0)"))).collect()[0][0]
            done = cur == prev_sum
            prev_sum = cur
        else:
            done = (new_labels.alias("n")
                    .join(labels.alias("o"),
                          F.col("n.id") == F.col("o.id"))
                    .where(~F.col("n.rep").eqNullSafe(F.col("o.rep")))
                    .isEmpty())
        labels = new_labels
        if done:
            break
    return labels


def keep_cluster_representatives(df: DataFrame, id_col: str,
                                 pairs: DataFrame,
                                 score_col: str | None = None) -> DataFrame:
    """Drop all but one member of every duplicate cluster implied by
    `pairs` (transitively: if a~b and b~c, one of {a,b,c} survives
    even when a~c was never emitted as a candidate). Rows not in any
    pair pass through untouched — an anti-join on the
    non-representative ids, so the wide rows never shuffle.

    Default keeper: min id. With `score_col`, the keeper is the
    cluster member with the HIGHEST score (ties → min id) — real
    pipelines keep the best-quality duplicate, not the first-seen
    one. Only (id, rep, score) triples enter the rank window."""
    labels = components(pairs)
    if score_col is None:
        losers = labels.where(F.col("id") != F.col("rep")) \
                       .select(F.col("id").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    from pyspark.sql import Window
    scored = labels.join(
        df.select(F.col(id_col).alias("id"),
                  F.col(score_col).alias("__s")), "id")
    w = Window.partitionBy("rep").orderBy(F.desc("__s"), F.asc("id"))
    losers = (scored.withColumn("__rk", F.row_number().over(w))
                    .where(F.col("__rk") > 1)
                    .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs historical index)
# ---------------------------------------------------------------------------

def hash_index(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(__k): distinct 64-bit key hashes of a corpus — the persisted
    dedup index for incremental pipelines. 8 bytes per distinct key;
    write it partitioned/bucketed by __k and each new batch dedups
    against history with one semi-join instead of re-scanning the
    corpus."""
    return (df.select(F.xxhash64(*[F.col(c) for c in key_cols])
                      .alias("__k")).distinct())


def filter_seen(df: DataFrame, key_cols: list[str],
                index: DataFrame) -> DataFrame:
    """Drop rows whose key hash is already in `index` (built by
    hash_index over the historical corpus) — the incremental-ingest
    dedup step. Anti-join on the 8-byte hash; the new batch's wide
    rows shuffle only their hash. 64-bit collisions drop a genuinely
    new row with P ≈ |index|/2⁶⁴ per row — acceptable for corpus
    dedup (documents), not for financial keys."""
    h = F.xxhash64(*[F.col(c) for c in key_cols])
    return (df.withColumn("__k", h)
              .join(index, "__k", "left_anti")
              .drop("__k"))


def duplication_weights(df: DataFrame, id_col: str,
                        pairs: DataFrame) -> DataFrame:
    """Soft dedup: instead of DROPPING duplicates, weight each row by
    1/|its duplicate cluster| so repeated content contributes one
    row's worth of training mass in total (the downweighting
    alternative some pipelines prefer over hard removal — keeps rare
    in-cluster variation). Clusters are the transitive closure of
    `pairs` (components); rows in no pair get weight 1.0.

    Output: df's columns + (dup_cluster, dup_count, weight). One
    label join + one count agg beyond the components rounds."""
    labels = components(pairs)
    sizes = labels.groupBy("rep").agg(F.count(F.lit(1)).alias("dup_count"))
    lab = (labels.join(sizes, "rep")
           .select(F.col("id").alias(id_col),
                   F.col("rep").alias("dup_cluster"), "dup_count"))
    return (df.join(lab, id_col, "left")
            .withColumn("dup_cluster",
                        F.coalesce(F.col("dup_cluster"), F.col(id_col)))
            .withColumn("dup_count",
                        F.coalesce(F.col("dup_count"), F.lit(1)))
            .withColumn("weight",
                        F.lit(1.0) / F.col("dup_count").cast("double")))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 4, window: int = 4,
                        portable: bool = False) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm, word-granular): hash every k-gram,
    slide a `window`-wide frame over the k-gram sequence, and select
    each frame's MINIMUM hash (ties -> rightmost position, the
    paper's rule). Guarantee: any shared run of >= window + k - 1
    tokens between two documents shares at least one selected
    fingerprint, at an expected density of only 2/(window+1) —
    a far sparser candidate set than full shingle postings, which
    is the whole point at 100 TB: the pair-generation join runs on
    ~2/(window+1) of the shingle volume with the same long-match
    guarantee.

    Output: (id_col, pos, h) — one row per distinct selected
    fingerprint; pos is the 0-based token position of the selected
    k-gram (provenance for span-level verification). Documents
    shorter than window k-grams still emit their global minimum
    (every document gets >= 1 fingerprint). Docs shorter than k
    tokens emit none.

    Plan: the shingle window-stitch pipeline (one shuffle,
    partitioned by doc) + one more doc-local window min — no extra
    shuffle (same partitioning, same order). `portable=True` uses
    the md5-mod hash family an ANSI-SQL oracle replicates
    bit-for-bit."""
    from pyspark.sql import Window

    sh = shingle_hashes(df, id_col, text_col, shingle_n=k,
                        distinct=False, full_only=True,
                        portable=portable, keep_pos=True)
    w = Window.partitionBy("id").orderBy("pos")
    frame = w.rowsBetween(0, window - 1)
    whole = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    # min (hash, -pos) == smallest hash, rightmost position on ties
    sel = F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))) \
           .over(frame)
    m = F.count(F.lit(1)).over(whole)
    # full windows only (the trailing partial frames would select
    # extra fingerprints the algorithm doesn't define); a doc with
    # fewer than `window` k-grams keeps its single whole-doc frame
    starts = (sh.withColumn("__sel", sel).withColumn("__m", m)
                .where((F.col("pos") <= F.col("__m") - window)
                       | ((F.col("__m") < window) & (F.col("pos") == 0))))
    return (starts.select(F.col("id").alias(id_col),
                          (-F.col("__sel.np")).alias("pos"),
                          F.col("__sel.h").alias("h"))
                  .distinct())


def winnow_pairs(df: DataFrame, id_col: str, text_col: str,
                 k: int = 4, window: int = 4, min_shared: int = 1,
                 cap: int | None = 1000,
                 portable: bool = False) -> DataFrame:
    """Near-dup CANDIDATE pairs by shared winnowing fingerprints:
    (id_a, id_b, n_shared) for id_a < id_b sharing >= `min_shared`
    selected fingerprint hashes — the MOSS match step. Candidates
    only (a fingerprint collision is a shared k-gram, not a verified
    near-dup); verify survivors with jaccard_pairs / span_dedup.

    `cap` drops fingerprint hashes appearing in more than `cap`
    documents before the self-join (boilerplate k-grams — the same
    hot-posting quadratic-blowup guard as jaccard_pairs; None =
    exact, for oracle comparison at test scale)."""
    fp = (winnow_fingerprints(df, id_col, text_col, k, window,
                              portable=portable)
          .select(F.col(id_col).alias("id"), "h").distinct())
    if cap is not None:
        hot = (fp.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
                 .where(F.col("n") > cap).select("h"))
        fp = fp.join(hot, "h", "left_anti")
    a = fp.select(F.col("id").alias("id_a"), "h")
    b = fp.select(F.col("id").alias("id_b"), "h")
    return (a.join(b, "h")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))


# ---------------------------------------------------------------------------
# Unaligned ExactSubstr (stride-1 windows, token-level removal)
# ---------------------------------------------------------------------------

def doc_windows(df: DataFrame, id_col: str, text_col: str,
                window_words: int = 10) -> DataFrame:
    """(id_col, pos, span): EVERY `window_words`-word window of each
    document at stride 1 (full windows only — a doc shorter than the
    window emits no rows). The unaligned candidate generator behind
    exact_substr_dedup; pure array expressions + one posexplode, no
    shuffle. Column names match doc_spans so span_first_flags is
    shared by both policies."""
    if window_words < 1:
        raise ValueError("window_words must be >= 1")
    words = F.split(F.col(text_col), " ")
    wins = F.when(
        F.size(words) >= window_words,
        F.transform(
            F.sequence(F.lit(0), (F.size(words) - window_words).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(words, i + 1, window_words)))) \
        .otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col),
                     F.posexplode(wins).alias("pos", "span"))


def span_dup_rows(ex: DataFrame, id_col: str = "__id",
                  hash_fn=None) -> DataFrame:
    """(id_col, pos) of the NON-first occurrences only — the dup-set
    complement of span_first_flags, for consumers (line_dedup's
    keep_first) that never look at kept rows. Same winner rule and collision
    re-check, one full-width shuffle FEWER: span_first_flags must
    join every (hash, id, pos) row back to its group to emit kept
    flags for solo rows, but solo rows (count == 1 — the dominant
    mass at stride 1, where most windows are unique) can never be
    duplicates, so here they die at the count aggregate: the only
    wide work left is the narrow (hash) groupBy count (map-side
    partial aggregation collapses repeated windows early) and the
    re-check join over multi-member groups alone — span text still
    shuffles only for candidate duplicates.

    `hash_fn` as in span_first_flags (fuzz hook: a weak hash floods
    the collision path; the dup set must not change)."""
    hf = hash_fn or (lambda c: F.xxhash64(c))
    multi_h = (ex.select(hf(F.col("span")).alias("__h"))
                 .groupBy("__h")
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .where(F.col("__n") > 1)
                 .select("__h"))
    multi_ex = (ex.withColumn("__h", hf(F.col("span")))
                  .join(multi_h, "__h", "left_semi"))
    fm = (multi_ex.groupBy("span")
                  .agg(F.min(F.struct(id_col, "pos")).alias("__w2")))
    return (multi_ex.join(fm, "span")
            .where(F.struct(id_col, "pos") != F.col("__w2"))
            .select(id_col, "pos"))


def _full_doc_copies(df: DataFrame, id_col: str, text_col: str,
                     window_words: int) -> DataFrame:
    """(id_col, n_tokens) of exact full-text duplicate docs — every
    NON-min-id member of an exact text group with >= window_words
    tokens. exact_substr_dedup removes these wholesale without
    windowing them: each copy's windows are the earliest copy's
    windows at the same positions, so (a) every one of its tokens is
    covered by a window won earlier — the copy always comes back
    n_kept = 0 — and (b) for every OTHER doc's window the earliest
    copy beats it wherever it would have won, so skipping the copies
    changes no other doc's outcome. Shorter-than-window copies are
    NOT included: they emit no windows, so they pass through whole
    (the operator contract) and cost nothing to keep in the main
    path.

    Shape: the exact_keep_first narrow protocol — (xxhash64(text),
    id) groupBy, then a real-text re-check over multi-member groups
    only. Text shuffles only for rows that ARE candidate copies, and
    each such row's text is window_words x cheaper to shuffle once
    here than to explode into stride-1 windows."""
    words = F.size(F.split(F.col(text_col), " "))
    big = (df.where(F.col(text_col).isNotNull()
                    & (words >= window_words))
             .select(F.col(id_col).alias("__id"),
                     F.col(text_col).alias("__t"),
                     words.alias("n_tokens")))
    h = F.xxhash64(F.col("__t"))
    g = (big.select(h.alias("__k"), "__id")
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .select("__k"))
    multi = big.withColumn("__k", h).join(g, "__k", "left_semi")
    fm = multi.groupBy("__t").agg(F.min("__id").alias("__w"))
    return (multi.join(fm, "__t")
                 .where(F.col("__id") != F.col("__w"))
                 .select(F.col("__id").alias(id_col), "n_tokens"))


def exact_substr_dedup(df: DataFrame, id_col: str, text_col: str,
                       window_words: int = 10,
                       collapse_dup_docs: bool = True) -> DataFrame:
    """UNALIGNED exact-substring dedup — the full ExactSubstr policy
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), word-granular: a token is REMOVED iff it is
    covered by a `window_words`-word window whose exact text occurs
    earlier in the corpus (earlier doc id wins; within a doc, earlier
    position). Unlike span_dedup's aligned restriction, a duplicated
    run is caught at ANY offset: every window at stride 1 is
    examined, so any shared run of >= window_words tokens is detected
    regardless of alignment. The reference engine has no counterpart
    (out of sybil scope); Lee et al. build a suffix array — the
    Spark-native equivalent is this stride-1 rolling-window form,
    which needs no global sort order, only hash shuffles.

    Returns (id_col, n_tokens, n_kept, dedup_text): token counts
    before/after and the surviving tokens re-joined in document
    order. Docs shorter than the window pass through unchanged; a
    fully-duplicated later copy comes back with n_kept = 0 and
    dedup_text = ''. NULL-text rows are absent (LEFT-join back on
    id_col to carry them). CONTRACT: id_col unique per row.

    Plan: the stride-1 windows are keyed by their text in ONE
    window shuffle (the first-occurrence row_number); every row past
    the first is a duplicated window start. It is the only plan
    because a string-free hash-keyed one (xxhash64 chains over
    per-token hashes, text re-sliced only for collision candidates)
    measured slower at every rehearsed scale (1x/10x/100x sf0.1
    replicas, SCALE_REHEARSAL_r0{6,7,8}_100x.json: 42.6-59.5 s
    text-keyed vs 57.3-86.1 s hash-keyed at 100x) — a single-JVM
    shuffle of window text costs less than the hash plan's extra
    exchanges.

    Before any windowing, `collapse_dup_docs` removes exact full-text
    COPY docs
    wholesale (_full_doc_copies — provably n_kept = 0, provably
    outcome-neutral for every other doc): on real web corpora whole-
    document duplication is the bulk of the duplicate mass, and one
    narrow (hash, id) pass replaces window_words× that text volume
    in window form; on a copy-free corpus it costs one narrow
    groupBy + a broadcast-size anti join. Duplicated positions then
    reduce to ONE narrow row per affected doc (sorted positions
    merged into disjoint covered intervals — at most
    n/window_words of them — with a single F.aggregate), and the
    surviving text is rebuilt at the final id-equi-join with pure
    array expressions: the per-doc filter costs
    O(n_tokens * n_intervals), never O(n_tokens * n_dup_windows)."""
    from pyspark.sql import Window

    copies = None
    work = df
    if collapse_dup_docs:
        # localCheckpoint (tiny: one (id, n_tokens) row per copy doc):
        # `copies` feeds BOTH the anti join and the output union, and
        # `work` is itself consumed twice — without materialization
        # Catalyst re-expands the copy-detection subtree (and its
        # corpus scans) several times over
        copies = _full_doc_copies(df, id_col, text_col, window_words) \
            .localCheckpoint(eager=True)
        work = df.join(copies.select(id_col), id_col, "left_anti")
    ex = doc_windows(work, id_col, text_col, window_words) \
        .withColumnRenamed(id_col, "__id")
    w = Window.partitionBy("span").orderBy("__id", "pos")
    dup = (ex.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") > 1))
    out = token_removal_rebuild(work, dup, id_col, text_col,
                                window_words)
    if copies is not None:
        out = out.unionByName(
            copies.select(F.col(id_col), F.col("n_tokens"),
                          F.lit(0).alias("n_kept"),
                          F.lit("").alias("dedup_text")))
    return out


def token_removal_rebuild(df: DataFrame, dup: DataFrame, id_col: str,
                          text_col: str,
                          window_words: int) -> DataFrame:
    """The reassembly tail shared by batch exact_substr_dedup and the
    streaming leg: given ("__id", pos) rows marking DUPLICATED window
    starts, cut every token covered by one and rebuild the surviving
    text from `df`'s own rows. The sorted per-doc starts merge into
    at most n/window_words disjoint [s, e) intervals with a single
    F.aggregate, so the per-doc token filter is
    O(n_tokens * n_intervals); rows of `df` with no dup windows pass
    through whole (LEFT join, NULL interval list). NULL-text rows are
    dropped here (they have no tokens to rebuild), keeping the
    operator's documented absent-row contract."""
    per_doc = (dup.groupBy("__id")
                  .agg(F.sort_array(F.collect_list("pos")).alias("__dp")))
    words = F.split(F.col(text_col), " ")
    W = F.lit(window_words)
    # merge sorted duplicate starts into disjoint [s, e) intervals:
    # starts ascend, so a window overlapping the open interval only
    # ever EXTENDS its end to p + W
    iv = F.aggregate(
        F.coalesce(F.col("__dp"), F.array().cast("array<int>")),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1)["e"] >= p),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.struct(
                         F.element_at(acc, -1)["s"].alias("s"),
                         (p + W).alias("e"))))) \
         .otherwise(F.concat(acc, F.array(F.struct(
             p.alias("s"), (p + W).alias("e"))))))
    kept = F.filter(
        F.sequence(F.lit(0), F.size(words) - 1),
        lambda t: ~F.exists(F.col("__iv"),
                            lambda v: (v["s"] <= t) & (t < v["e"])))
    return (df.select(id_col, text_col).dropDuplicates([id_col])
              .where(F.col(text_col).isNotNull())
              .join(per_doc, F.col(id_col) == F.col("__id"), "left")
              .withColumn("__iv", iv)
              .withColumn("__kt", kept)
              .select(id_col,
                      F.size(words).alias("n_tokens"),
                      F.size("__kt").alias("n_kept"),
                      F.concat_ws(" ", F.transform(
                          F.col("__kt"),
                          lambda t: F.element_at(words, t + 1)))
                      .alias("dedup_text")))


# ---------------------------------------------------------------------------
# line-level dedup (RefinedWeb / CCNet boilerplate removal)
# ---------------------------------------------------------------------------

def doc_lines(df: DataFrame, id_col: str, text_col: str,
              sep: str = "\n") -> DataFrame:
    """(id_col, pos, span): each document's lines (split on the
    literal `sep`, empty lines included — they are real positions
    and dedup like any line). Column names match doc_spans/
    doc_windows so the span hash machinery (span_dup_rows) is shared
    verbatim. Pure split + posexplode, no shuffle."""
    import re
    lines = F.split(F.col(text_col), re.escape(sep))
    return df.select(F.col(id_col),
                     F.posexplode(lines).alias("pos", "span"))


def line_dedup(df: DataFrame, id_col: str, text_col: str,
               sep: str = "\n", policy: str = "keep_first",
               min_docs: int = 2) -> DataFrame:
    """Corpus-wide LINE-level dedup — the boilerplate-removal pass of
    web-corpus pipelines (RefinedWeb's line dedup; CCNet dedups
    paragraphs the same way): repeated lines like navigation chrome,
    cookie banners, or signature blocks are removed while the
    surrounding document survives. Two policies:

    - `keep_first`: the corpus-wide FIRST occurrence of each exact
      line survives (earlier doc id wins; within a doc, earlier
      position); later copies are removed — exactly span_dedup's
      winner rule at line granularity.
    - `drop_common`: EVERY occurrence of a line appearing in >=
      `min_docs` DISTINCT documents is removed (boilerplate by
      definition appears everywhere; nothing survives, not even the
      first) — RefinedWeb's stance for site-wide chrome.

    Returns (id_col, n_lines, n_kept, dedup_text): line counts
    before/after and the surviving lines re-joined with `sep` in
    document order. NULL-text rows are absent (LEFT-join back to
    carry them). CONTRACT: id_col unique per row.

    Scale shape: lines shuffle as (xxhash64(line), id, pos) — the
    span_dup_rows dup-only plan for keep_first (unique lines die at
    the narrow count aggregate; collision re-check on the real line
    text keeps removal exact), and the same narrow-first protocol
    for drop_common (candidate line hashes by distinct-doc count,
    re-checked on text). Removed positions then collapse to ONE
    sorted-array row per affected doc and the text is rebuilt with
    array expressions at the final id-equi-join — line text never
    enters a wide shuffle except for candidate duplicates."""
    if policy not in ("keep_first", "drop_common"):
        raise ValueError(f"line_dedup: unknown policy {policy!r}")
    ex = doc_lines(df, id_col, text_col, sep) \
        .withColumnRenamed(id_col, "__id")
    if policy == "keep_first":
        dup = span_dup_rows(ex)
    else:
        h = F.xxhash64(F.col("span"))
        cand = (ex.select(h.alias("__h"), "__id").distinct()
                  .groupBy("__h")
                  .agg(F.count(F.lit(1)).alias("__n"))
                  .where(F.col("__n") >= min_docs)
                  .select("__h"))
        multi = (ex.withColumn("__h", h)
                   .join(cand, "__h", "left_semi"))
        bad = (multi.groupBy("span")
                    .agg(F.count_distinct("__id").alias("__nd"))
                    .where(F.col("__nd") >= min_docs)
                    .select("span"))
        dup = (multi.join(bad, "span", "left_semi")
                    .select("__id", "pos"))
    per_doc = (dup.groupBy("__id")
                  .agg(F.sort_array(F.collect_list("pos"))
                        .alias("__rp")))
    import re
    lines = F.split(F.col(text_col), re.escape(sep))
    kept = F.filter(
        F.sequence(F.lit(0), F.size(lines) - 1),
        lambda t: ~F.array_contains(
            F.coalesce(F.col("__rp"), F.array().cast("array<int>")),
            t))
    return (df.select(id_col, text_col).dropDuplicates([id_col])
              .where(F.col(text_col).isNotNull())
              .join(per_doc, F.col(id_col) == F.col("__id"), "left")
              .withColumn("__kt", kept)
              .select(id_col,
                      F.size(lines).alias("n_lines"),
                      F.size("__kt").alias("n_kept"),
                      F.concat_ws(sep, F.transform(
                          F.col("__kt"),
                          lambda t: F.element_at(lines, t + 1)))
                      .alias("dedup_text")))


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------

def _bloom_build(hashes, n_keys: int, bits_per_key: int = 12,
                 n_probes: int = 7, log2m: int | None = None):
    """numpy bit-array Bloom filter over 64-bit keys. Double hashing
    (Kirsch-Mitzenmacher): probe_j = (h1 + j*h2) mod m with m a power
    of two and h2 forced odd, so j probes cycle the whole table.
    Returns (bits: uint8[m/8], log2m). ~1.5 bytes/key at the default
    sizing for ~0.3% FP — two orders of magnitude smaller than the
    equivalent broadcast hash relation. Pass log2m to pin the table
    size (distributed builds size from the global key count, then OR
    together identically-sized per-partition tables)."""
    import numpy as np

    if log2m is None:
        log2m = max(6, int(np.ceil(np.log2(max(1, n_keys)
                                           * bits_per_key))))
    m = 1 << log2m
    bits = np.zeros(m >> 3, dtype=np.uint8)
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    h1 = h & np.uint64(m - 1)
    h2 = ((h >> np.uint64(17)) | np.uint64(1)) & np.uint64(m - 1)
    for j in range(n_probes):
        pos = (h1 + np.uint64(j) * h2) & np.uint64(m - 1)
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits, log2m


def bloom_decontaminate(df: DataFrame, id_col: str, text_col: str,
                        bench: DataFrame, bench_id_col: str,
                        bench_text_col: str,
                        shingle_n: int = 3, min_overlap: int = 1,
                        bits_per_key: int = 12,
                        n_probes: int = 7) -> DataFrame:
    """decontaminate(), result-identical, with a Bloom pre-filter in
    front of the exact semi-join. Blooms have NO false negatives, so
    every truly-contaminated shingle survives the pre-filter; false
    positives are killed by the exact semi-join that follows — the
    output is bit-for-bit decontaminate()'s.

    Why bother when decontaminate already broadcasts the bench set:
    at 100 TB the broadcast hash relation for a LARGE benchmark
    (multi-benchmark unions reach 10^8+ distinct shingles) blows the
    executor-memory broadcast budget and decontaminate degrades to
    shuffling EVERY corpus shingle (broadcast_bench=False). The
    Bloom stays broadcastable at any benchmark size (~1.5 bytes/key
    — 150 MB for 10^8 keys, vs several GB as a hash relation), and
    its map-side test drops ~99.7% of corpus shingles BEFORE the
    shuffle, so the exact semi-join only ever sees the contaminated
    sliver plus the FP dust. This is the standard
    bloom-prune-then-exact-verify join pattern, applied to
    decontamination.

    The Bloom is BUILT distributed too — per-partition numpy bitmaps
    tree-OR-reduced (bitwise OR is associative/commutative, so the
    merge order is free) — because a benchmark too big to broadcast
    as a hash relation is also too big to collect() row-by-row; only
    m/8-byte bitmaps ever move, never the key set. The membership
    test is an Arrow-batched pandas_udf over the int64 shingle-hash
    column (vectorized numpy bit probes — the fast Python path; the
    hashes themselves are computed JVM-side by shingle_hashes). Only
    shingle hashes and ids cross into Python; document text never
    leaves the JVM scan."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bh = (shingle_hashes(bench, bench_id_col, bench_text_col, shingle_n,
                         full_only=True)
          .select("h").distinct())
    # reused three times (sizing count, bloom build, exact verify);
    # registered into the ambient cache_scope for lifecycle
    bh = bh.persist()
    n_keys = bh.count()
    if n_keys == 0:
        bh.unpersist()
        return df
    register_cached(bh)
    log2m = max(6, int(np.ceil(np.log2(n_keys * bits_per_key))))

    def partial(rows):
        bits, _ = _bloom_build([r[0] for r in rows], 0, bits_per_key,
                               n_probes, log2m=log2m)
        yield bits

    # each partial is m/8 bytes regardless of row count; depth-2 tree
    # reduce keeps the driver's merge fan-in at sqrt(#partitions)
    bits = bh.rdd.mapPartitions(partial).treeReduce(np.bitwise_or, depth=2)
    # the bloom ships once per executor as a Spark broadcast, not once
    # per task inside the pickled closure
    bc = df.sparkSession.sparkContext.broadcast(bits)

    @pandas_udf("boolean")
    def bloom_hit(col: pd.Series) -> pd.Series:
        import numpy as np
        bits = bc.value
        h = col.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        m = np.uint64((1 << log2m) - 1)
        h1 = h & m
        h2 = ((h >> np.uint64(17)) | np.uint64(1)) & m
        out = np.ones(len(h), dtype=bool)
        for j in range(n_probes):
            pos = (h1 + np.uint64(j) * h2) & m
            out &= (bits[(pos >> np.uint64(3)).astype(np.int64)]
                    & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
                    ).astype(bool)
        return pd.Series(out)

    sh = shingle_hashes(df, id_col, text_col, shingle_n, full_only=True)
    cand = sh.where(bloom_hit(F.col("h")))
    # exact verify on the bloom survivors only — false positives die
    # here, so min_overlap counts are exact. No broadcast hint: AQE
    # picks broadcast when the bench fits and a shuffle join when it
    # doesn't — and in the shuffle case the corpus side is already
    # the bloom-thinned sliver, which is the whole point
    bad = (cand.join(bh, "h", "left_semi")
               .groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_overlap"))
               .where(F.col("n_overlap") >= F.lit(int(min_overlap)))
               .select(F.col("id").alias(id_col)))
    return df.join(bad, id_col, "left_anti")
