"""Model-based document quality scoring.

CCNet (Wenzek et al. 2020) ranks web documents by language-model
perplexity and keeps the low-perplexity head. The full KenLM scorer
is a model artifact; the Spark-native equivalent here is its unigram
reduction — mean token log-probability under a corpus-frequency
model — which preserves the pipeline shape (train/score as two
DataFrame passes, score is a join + aggregate) and is exactly
reproducible cross-engine. A real LM slots in behind the same
column contract as a pandas_udf over the token column.

Exactness: per-token log-probabilities are quantized to
decimal(38,6) BEFORE summing, so the per-document sum is
order-independent (exact decimal addition) and bit-matches a SQL
oracle regardless of shuffle/aggregation order. ln() itself is IEEE
double on both engines; a 1-ulp libm difference can only flip the
quantization within 1e-10 of a rounding boundary — not observed at
any tested scale, and the fuzz suite would surface it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sybil_spark.functions.exact import exact_sum
from sybil_spark.functions.text import tokens
from sybil_spark.operators._util import estimated_bytes
from sybil_spark.sources import commit

_DEC = "decimal(38,6)"


def _require(col, msg: str, detail) -> "F.Column":
    """col, except a NULL raises `msg` + detail from the executor —
    for joins whose misses are caller errors: a silent null would be
    skipped by downstream aggregates and corrupt the result instead
    of failing."""
    return F.when(col.isNotNull(), col).otherwise(
        F.raise_error(F.concat(F.lit(msg), detail.cast("string"))))


def unigram_model(df: DataFrame, text_col: str) -> DataFrame:
    """(tok, cnt): corpus token frequencies — the 'training' pass.
    One explode + one groupBy shuffle; persist this (partitioned by
    a hash of tok at 100 TB) and reuse it across scoring runs."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    model: DataFrame | None = None,
                    smooth_k: int = 0) -> DataFrame:
    """Per-document mean token log-probability under a unigram model
    (higher = more typical of the training distribution; rank and cut
    the tail exactly as CCNet does with perplexity buckets).

    `model` defaults to self-scoring (frequencies from `df` itself —
    every token is in-vocabulary, smoothing unnecessary). Scoring a
    stream against a FROZEN external model needs `smooth_k` ≥ 1
    (Laplace: p = (cnt+k)/(total+k·vocab)) so unseen tokens get a
    finite penalty instead of a null join.

    Output: (id_col, n_tokens, sum_logprob, mean_logprob).

    Scale: score = one explode, one equi-join on the token (Catalyst
    broadcasts a small model; a web-scale vocab shuffle-joins on the
    token key), one groupBy on the doc id. The two model scalars
    (total, vocab) are a driver-side 1-row aggregate — bounded."""
    m = model if model is not None else unigram_model(df, text_col)
    stats = m.agg(F.sum("cnt").alias("t"),
                  F.count(F.lit(1)).alias("v")).collect()[0]
    total, vocab = stats["t"], stats["v"]
    if total is None:
        raise ValueError("unigram_logprob: empty model (no tokens)")
    denom = float(total + smooth_k * vocab)
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    joined = toks.join(m, "tok", "left")
    cnt = F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(smooth_k)
    if smooth_k == 0:
        # self-scoring / closed-vocab: an unseen token means p = 0 —
        # a caller error. A plain null would be SKIPPED by the sum
        # (silently wrong sum_logprob), so raise from the row itself.
        cnt = _require(F.col("cnt"),
                       "unigram_logprob: token unseen by the model "
                       "under smooth_k=0: ", F.col("tok"))
    lp = F.log(cnt.cast("double") / F.lit(denom))
    return (joined.withColumn("__lp", lp).groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 exact_sum("__lp").alias("__s"))
            .select(F.col("__id").alias(id_col), "n_tokens",
                    F.col("__s").cast("string").cast("double")
                     .alias("sum_logprob"),
                    (F.col("__s").cast("string").cast("double")
                     / F.col("n_tokens")).alias("mean_logprob")))


#: tf persist threshold (optimizer sizeInBytes of the input): the
#: crossover sits between 1x and 10x sf0.1 document replicas. At
#: local[4] (WP_ONE_PLAN_AB.json, median of 5 interleaved trials)
#: rescan wins 1x (tfidf 0.78 vs 0.88 s persisted, bm25 0.94 vs
#: 1.22 s) and persist wins 10x (tfidf 3.14 vs 3.36 s rescanned,
#: bm25 1.73 vs 2.07 s), i.e. around ~1 MiB of compressed text
#: estimate on this layout
TFIDF_PERSIST_BYTES = 1 << 20


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf — the
    cheap, model-free document profiler (domain tagging, corpus
    exploration, clustering features).

    tf = token count within the doc; idf = ln(N / df_t) with df_t =
    number of docs containing the token (so a token in every doc
    scores exactly 0). Rank ties break by token ascending, making
    the output fully deterministic cross-engine.

    Output: (id_col, tok, tf, score, term_rank), 1..k per doc.

    Scale: two grouped aggregations (doc×token, then token) and one
    per-doc top-k window — the window input is already collapsed to
    distinct (doc, token) rows, orders of magnitude smaller than the
    token stream, and Spark's rank-limit pushdown (WindowGroupLimit)
    truncates each partition to k rows BEFORE the window shuffle. N
    is one count job (a driver scalar, bounded). Catalyst expands the
    tf subtree twice (once per aggregation) rather than reusing it —
    whether that beats MEMORY_AND_DISK-persisting the collapsed
    (doc, token, tf) frame is SIZE-DEPENDENT, so it decides from the
    optimizer's input size estimate (a plan-stats read, no job):
    rescan below TFIDF_PERSIST_BYTES, persist above (unknown size:
    persist). The persisted frame's lifetime is owned by the ambient
    `_util.cache_scope()` (unpersisted at scope exit; callers wrap
    their action in one) or, with no scope active, by
    `_util.unpersist_unscoped()` — so long-lived sessions need not
    nuke the whole Spark cache."""
    est = estimated_bytes(df)
    persist_tf = est is None or est > TFIDF_PERSIST_BYTES
    n_docs = df.count()
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy("__id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    if persist_tf:
        from pyspark import StorageLevel

        from sybil_spark.operators._util import register_cached
        tf = register_cached(tf.persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window
    # quantize tf·idf to decimal(38,6) BEFORE ranking: raw doubles
    # differ by a ulp across engines (libm ln), which would flip
    # near-tie ranks nondeterministically; after quantization the
    # order and the rendered score are cross-engine exact (the same
    # contract as unigram_logprob)
    scored = (tf.join(dfreq, "tok")
                .withColumn("__s",
                            (F.col("tf")
                             * F.log(F.lit(float(n_docs))
                                     / F.col("__df").cast("double")))
                            .cast(_DEC)))
    w = Window.partitionBy("__id").orderBy(F.desc("__s"), F.asc("tok"))
    out = (scored.withColumn("term_rank", F.row_number().over(w))
                 .where(F.col("term_rank") <= k)
                 .select(F.col("__id").alias(id_col), "tok", "tf",
                         F.col("__s").cast("string").cast("double")
                          .alias("score"), "term_rank"))
    return out


def bigram_model(df: DataFrame, text_col: str) -> DataFrame:
    """(prev, tok, cnt): corpus bigram frequencies. Bigram extraction
    is pure array expressions (zero shuffle before the groupBy);
    persist and reuse like `unigram_model`."""
    return (_bigrams(df, text_col, "__ignored")
            .groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cnt")))


def _bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id?, prev, tok) — one row per adjacent token pair. Documents
    with a single token emit nothing (no conditional context)."""
    words = tokens(F.col(text_col))
    n = F.size(words)
    idxs = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
            .otherwise(F.array().cast("array<int>"))
    pairs = F.transform(
        idxs, lambda i: F.struct(F.element_at(words, i).alias("prev"),
                                 F.element_at(words, i + 1).alias("tok")))
    cols = ([F.col(id_col).alias("__id")]
            if id_col in df.columns else [])
    ex = df.select(*cols, F.explode(pairs).alias("__bg"))
    return ex.select(*(["__id"] if cols else []),
                     F.col("__bg.prev").alias("prev"),
                     F.col("__bg.tok").alias("tok"))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str,
                   model: DataFrame | None = None,
                   smooth_k: int = 0) -> DataFrame:
    """Per-document mean conditional log-probability under a bigram
    model — one order up from `unigram_logprob` toward the CCNet
    KenLM scorer, with the same exactness contract (per-pair ln
    quantized to decimal(38,6) before the order-independent sum).

    p(tok|prev) = cnt(prev,tok) / Σ_t cnt(prev,t); with `smooth_k`
    (required when scoring against a frozen external model) both
    counts Laplace-smooth over the model's token vocabulary. Docs
    with fewer than 2 tokens have no bigrams and are absent from the
    output (no conditional evidence either way — left-join the
    result if pass-through rows are wanted).

    Output: (id_col, n_bigrams, sum_logprob, mean_logprob).

    Scale: extraction is array expressions (no shuffle); scoring is
    one equi-join on (prev, tok) + one on prev + a doc groupBy —
    same shape as the unigram scorer, one extra narrow join."""
    m = model if model is not None else bigram_model(df, text_col)
    ctx = m.groupBy("prev").agg(F.sum("cnt").alias("__cc"))
    if smooth_k:
        vocab = m.select("tok").distinct().count()
    bg = _bigrams(df, text_col, id_col)
    joined = (bg.join(m, ["prev", "tok"], "left")
                .join(ctx, "prev", "left"))
    num = F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(smooth_k)
    den = (F.coalesce(F.col("__cc"), F.lit(0))
           + F.lit(smooth_k) * F.lit(vocab if smooth_k else 0))
    if smooth_k == 0:
        # self-scoring / closed model: unseen bigrams would be a
        # caller error (p = 0) — raise from the row (a silent null
        # would be skipped by the sum), as unigram_logprob does
        pair = F.concat_ws(" ", F.col("prev"), F.col("tok"))
        num = _require(F.col("cnt"), "bigram_logprob: bigram unseen "
                       "by the model under smooth_k=0: ", pair)
        den = _require(F.col("__cc"), "bigram_logprob: context unseen "
                       "by the model under smooth_k=0: ", F.col("prev"))
    lp = F.log(num.cast("double") / den.cast("double"))
    return (joined.withColumn("__lp", lp).groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 exact_sum("__lp").alias("__s"))
            .select(F.col("__id").alias(id_col), "n_bigrams",
                    F.col("__s").cast("string").cast("double")
                     .alias("sum_logprob"),
                    (F.col("__s").cast("string").cast("double")
                     / F.col("n_bigrams")).alias("mean_logprob")))


def corpus_divergence(df_a: DataFrame, df_b: DataFrame, text_col: str,
                      smooth_k: int = 1) -> DataFrame:
    """Token-level distribution shift between two corpora: each
    token's contribution p_a·ln(p_a/p_b) to KL(P_a ‖ P_b), the
    standard audit for "does my new data slice look like the corpus
    I trained on" (domain drift, source skew, contamination of a
    split by another register).

    Both distributions Laplace-smooth over the UNION vocabulary
    (`smooth_k` ≥ 1 — a token absent from one side must get finite
    mass or the divergence is undefined), so every union token gets
    a row. Contributions quantize to decimal(38,6) — summing them
    (exactly) gives the smoothed KL estimate; sort desc for the
    tokens that most distinguish corpus A.

    Output: (tok, cnt_a, cnt_b, contrib), contrib rendered double.

    Scale: two token aggregations + one full-outer equi-join on the
    token — vocabulary-sized, not corpus-sized; the four scalars
    (totals, vocab) are driver-side 1-row aggregates."""
    if smooth_k < 1:
        raise ValueError("smooth_k must be >= 1 (finite mass on both "
                         "sides of every union token)")
    ma = unigram_model(df_a, text_col).withColumnRenamed("cnt", "cnt_a")
    mb = unigram_model(df_b, text_col).withColumnRenamed("cnt", "cnt_b")
    m = (ma.join(mb, "tok", "full_outer")
           .select("tok",
                   F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                   F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    tot = m.agg(F.sum("cnt_a").alias("ta"), F.sum("cnt_b").alias("tb"),
                F.count(F.lit(1)).alias("v")).collect()[0]
    if tot["v"] == 0:
        raise ValueError("corpus_divergence: both corpora are empty "
                         "(no union vocabulary)")
    da = float(tot["ta"] + smooth_k * tot["v"])
    db = float(tot["tb"] + smooth_k * tot["v"])
    pa = (F.col("cnt_a") + F.lit(smooth_k)).cast("double") / F.lit(da)
    pb = (F.col("cnt_b") + F.lit(smooth_k)).cast("double") / F.lit(db)
    contrib = (pa * F.log(pa / pb)).cast(_DEC)
    return m.select("tok", "cnt_a", "cnt_b",
                    contrib.cast("string").cast("double")
                           .alias("contrib"))


def interpolated_logprob(df: DataFrame, id_col: str, text_col: str,
                         lam: float = 0.75,
                         unigram: DataFrame | None = None,
                         bigram: DataFrame | None = None,
                         smooth_k: int = 0) -> DataFrame:
    """Per-document mean log-probability under the interpolated
    n-gram model ln(λ·p(tok|prev) + (1−λ)·p(tok)) — the standard
    Jelinek-Mercer smoothing between the bigram and unigram scorers
    and the closest pure-SQL-replicable stand-in for CCNet's KenLM
    ranking. A document's FIRST token has no context and scores with
    the unigram alone; every term quantizes to decimal(38,6) before
    the order-independent sum (pick λ with an exact binary
    representation — the default 0.75 is — so both engines hold the
    identical double).

    Self-scoring by default; pass frozen `unigram`/`bigram` models
    with `smooth_k` ≥ 1 to score a stream (unseen tokens, bigrams,
    and contexts all Laplace-smooth; under smooth_k=0 an unseen term
    raises like the component scorers).

    Output: (id_col, n_tokens, sum_logprob, mean_logprob).

    Scale: the same shape as bigram_logprob plus one extra narrow
    join on the token — term construction is array expressions, no
    shuffle before the model joins."""
    mu = unigram if unigram is not None else unigram_model(df, text_col)
    mb = bigram if bigram is not None else bigram_model(df, text_col)
    stats = mu.agg(F.sum("cnt").alias("t"),
                   F.count(F.lit(1)).alias("v")).collect()[0]
    if stats["t"] is None:
        raise ValueError("interpolated_logprob: empty unigram model")
    denom_u = float(stats["t"] + smooth_k * stats["v"])
    vocab_b = mb.select("tok").distinct().count() if smooth_k else 0
    ctx = mb.groupBy("prev").agg(F.sum("cnt").alias("__cc"))

    words = tokens(F.col(text_col))
    terms = F.transform(
        F.sequence(F.lit(1), F.size(words)),
        lambda i: F.struct(
            F.element_at(words, i).alias("tok"),
            F.when(i > 1, F.element_at(words, i - 1)).alias("prev")))
    ex = (df.select(F.col(id_col).alias("__id"),
                    F.explode(terms).alias("__t"))
            .select("__id", F.col("__t.tok").alias("tok"),
                    F.col("__t.prev").alias("prev")))
    j = (ex.join(mu.withColumnRenamed("cnt", "__cu"), "tok", "left")
           .join(mb.withColumnRenamed("cnt", "__cb"),
                 ["prev", "tok"], "left")
           .join(ctx, "prev", "left"))
    if smooth_k == 0:
        cu = _require(F.col("__cu"), "interpolated_logprob: token "
                      "unseen by the model under smooth_k=0: ",
                      F.col("tok"))
        # self-scoring: every non-first term's bigram and context
        # exist by construction; guard them the same way
        cb = F.when(F.col("prev").isNull(), F.lit(0)).otherwise(
            _require(F.col("__cb"), "interpolated_logprob: bigram "
                     "unseen by the model under smooth_k=0: ",
                     F.concat_ws(" ", F.col("prev"), F.col("tok"))))
        cc = F.when(F.col("prev").isNull(), F.lit(1)).otherwise(
            _require(F.col("__cc"), "interpolated_logprob: context "
                     "unseen by the model under smooth_k=0: ",
                     F.col("prev")))
    else:
        cu = F.coalesce(F.col("__cu"), F.lit(0)) + F.lit(smooth_k)
        cb = F.coalesce(F.col("__cb"), F.lit(0)) + F.lit(smooth_k)
        cc = (F.coalesce(F.col("__cc"), F.lit(0))
              + F.lit(smooth_k) * F.lit(vocab_b))
    pu = cu.cast("double") / F.lit(denom_u)
    pb = cb.cast("double") / cc.cast("double")
    p = F.when(F.col("prev").isNull(), pu) \
         .otherwise(F.lit(lam) * pb + F.lit(1.0 - lam) * pu)
    lp = F.log(p)
    return (j.withColumn("__lp", lp).groupBy("__id")
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  exact_sum("__lp").alias("__s"))
             .select(F.col("__id").alias(id_col), "n_tokens",
                     F.col("__s").cast("string").cast("double")
                      .alias("sum_logprob"),
                     (F.col("__s").cast("string").cast("double")
                      / F.col("n_tokens")).alias("mean_logprob")))


def quantile_buckets(df: DataFrame, id_col: str, score_col: str,
                     fractions: tuple = (1 / 3, 1 / 3, 1 / 3),
                     labels: tuple = ("head", "middle", "tail"),
                     buckets: int = 1000) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    documents by quality score (DESC — for logprob scores higher is
    better; ties -> id asc) and split them into labeled quantile
    buckets ("head"/"middle"/"tail" thirds by default) — the
    standard corpus stratification for quality-aware mixing and
    head-only pretraining. Adds a `bucket` string column; NULL/NaN
    scores are unrankable and always land in the LAST bucket
    (fractions apply to scored rows only).

    Scale shape — no single-task global sort, same two-phase plan as
    take_until_budget: scores are range-bucketed (driver sees only
    `buckets` count rows); every cut rank k_j = ceil(N * cumfrac_j)
    is located in its histogram bucket; ONLY the boundary buckets
    (~1/buckets of the data each) run an exact window to extract the
    cutoff (score, id) pair at the exact rank; every row is then
    labeled by comparing (score, id) against the collected cutoffs —
    a pure column expression over one scan. Determinism: depends
    only on the (score, id) order, so histogram bucket edges never
    affect the result, and the (score desc, id asc) tie-break makes
    the assignment reproducible cross-engine (the SQL oracle is a
    row_number over the same order)."""
    from pyspark.sql import Window

    if len(fractions) != len(labels) or len(labels) < 2:
        raise ValueError("need >=2 labels with matching fractions")
    if any(f <= 0 for f in fractions):
        raise ValueError("fractions must be positive")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")

    sc = F.col(score_col).cast("double")
    norm = F.when(sc.isNull() | F.isnan(sc),
                  F.lit(None).cast("double")).otherwise(sc)
    # the planning passes (range agg, histogram, boundary windows)
    # are separate jobs — materialize ONE narrow (id, score)
    # projection (~16 B/row) so an expensive upstream (e.g. a
    # logprob scorer) runs once, and so a nondeterministic input
    # can't make the histogram disagree with the cutoff extraction
    # (the take_until_budget determinism caveat, solved here by
    # construction); the final labeling pass over `df` itself is a
    # single scan against collected constant cutoffs
    bdf = df.select(F.col(id_col), norm.alias("__sc")) \
            .localCheckpoint(eager=True)
    mm = bdf.agg(F.min("__sc").alias("lo"), F.max("__sc").alias("hi"),
                 F.count("__sc").alias("n")).collect()[0]
    lo, hi, n = mm["lo"], mm["hi"], mm["n"]
    if n == 0:   # nothing rankable
        return df.withColumn("bucket", F.lit(labels[-1]))
    width = (float(hi) - float(lo)) / buckets if hi != lo else 1.0
    # bucket 0 = best scores; equal scores never split buckets
    b = F.when(F.col("__sc").isNull(), F.lit(buckets)).otherwise(
        F.least(F.floor((F.lit(float(hi)) - F.col("__sc"))
                        / F.lit(width)).cast("int"),
                F.lit(buckets - 1)))
    bdf = bdf.withColumn("__b", b)
    per = {r["__b"]: r["c"]
           for r in bdf.where(F.col("__sc").isNotNull())
                       .groupBy("__b")
                       .agg(F.count(F.lit(1)).alias("c")).collect()}
    # cut ranks (1-based, inclusive): label j covers (k_{j-1}, k_j].
    # plain ceil over the IEEE product — the formula a SQL oracle
    # reproduces verbatim (ceiling(n * cumfrac) on the same doubles)
    import math
    cum_f, ks = 0.0, []
    for f in fractions[:-1]:
        cum_f += f
        ks.append(min(n, max(1, math.ceil(n * cum_f))))
    # locate each cut's histogram bucket + its rank offset inside it
    need: dict[int, list[int]] = {}   # bucket -> local offsets
    locs = []                         # (bucket, local_offset) per cut
    for k in ks:
        cum = 0
        for i in sorted(per):
            if cum + per[i] >= k:
                need.setdefault(i, []).append(k - cum)
                locs.append((i, k - cum))
                break
            cum += per[i]
    # exact cutoff (score, id) pairs from ONLY the boundary buckets
    cutoffs: dict[tuple, tuple] = {}
    for bb, offs in need.items():
        w = Window.orderBy(F.desc("__sc"), F.asc(id_col))
        rows = (bdf.where(F.col("__b") == bb)
                   .select("__sc", id_col)
                   .withColumn("__rn", F.row_number().over(w))
                   .where(F.col("__rn").isin(offs)).collect())
        for r in rows:
            cutoffs[(bb, r["__rn"])] = (r["__sc"], r[id_col])
    # label expression: rank <= k  <=>  (s, id) at-or-before cutoff
    expr = None
    for j, (bb_off, lab) in enumerate(zip(locs, labels[:-1])):
        cs, cid = cutoffs[bb_off]
        le_cut = (F.col("__sc") > F.lit(cs)) | (
            (F.col("__sc") == F.lit(cs)) & (F.col(id_col) <= F.lit(cid)))
        expr = F.when(le_cut, F.lit(lab)) if expr is None \
            else expr.when(le_cut, F.lit(lab))
    expr = expr.otherwise(F.lit(labels[-1]))
    # single labeling scan over the ORIGINAL frame (all columns),
    # comparing against the collected constant cutoffs
    return (df.withColumn("__sc", norm)
              .withColumn("bucket", expr).drop("__sc"))


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              queries: DataFrame, q_id_col: str = "q_id",
              q_text_col: str = "q_text",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Batched BM25 retrieval: top-k documents per QUERY row under
    the Okapi BM25 ranking (Robertson-Sparck Jones idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5))) — the standard lexical search
    for corpus curation: dedup audits ("find docs like this
    contamination hit"), eval-probe retrieval, boolean-ish corpus
    exploration, hybrid first-stage ahead of the embedding rankers
    in operators/similarity.

    Output: (q_id, id_col, score, rank), rank 1..k per query; ties
    break by doc id ascending. Queries with no token overlap return
    no rows.

    Exactness: per-(query-token, doc) score terms quantize to
    decimal(38,6) BEFORE summing (order-independent sums, the
    unigram_logprob contract), and the rendered score goes through
    varchar->double, so rank and score are cross-engine exact.

    Scale: ONE corpus tokenization builds (doc, token, tf); doc
    lengths and document frequencies both DERIVE from it (dl =
    sum(tf) per doc, df = count per token — no second tokenization
    pass exists in the plan); N and avgdl are a 1-row driver
    aggregate; query tokens (tiny) broadcast-join the tf frame on
    the token key; the per-query top-k window input is collapsed to
    (query, doc) rows with WindowGroupLimit truncating partitions to
    k before the shuffle. Because tf is referenced by four
    downstream subtrees, it auto-persists above TFIDF_PERSIST_BYTES
    of input estimate exactly like tfidf_top_terms (the 1-row stats
    collect materializes it before the main job); same lifetime
    contract — the frame registers into the ambient
    `_util.cache_scope()` (or the unscoped fallback)."""
    from pyspark.sql import Window

    est = estimated_bytes(df)
    persist_tf = est is None or est > TFIDF_PERSIST_BYTES
    toks = df.select(F.col(id_col).alias("__doc"),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy("__doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    if persist_tf:
        from pyspark import StorageLevel

        from sybil_spark.operators._util import register_cached
        tf = register_cached(tf.persist(StorageLevel.MEMORY_AND_DISK))
    dl = tf.groupBy("__doc").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("s")).collect()[0]
    n_docs = stats["n"] or 0
    if n_docs == 0:
        raise ValueError("bm25_topk: empty corpus (no tokenizable docs)")
    avgdl = float(stats["s"]) / float(n_docs)
    qt = (queries.select(F.col(q_id_col).alias("q_id"),
                         F.explode(tokens(F.col(q_text_col)))
                          .alias("tok"))
                 .distinct())   # repeated query terms count once
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5)))
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (F.lit(1.0 - b)
                                + F.lit(b) * F.col("dl").cast("double")
                                / F.lit(avgdl))
    term = idf * tf_d * F.lit(k1 + 1.0) / denom
    scored = (F.broadcast(qt)
              .join(tf, "tok")
              .join(dfreq, "tok")
              .join(dl, "__doc")
              .withColumn("__term", term)
              .groupBy("q_id", "__doc")
              .agg(exact_sum("__term").alias("__s")))
    w = Window.partitionBy("q_id").orderBy(F.desc("__s"),
                                           F.asc("__doc"))
    out = (scored.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("q_id", F.col("__doc").alias(id_col),
                         F.col("__s").cast("string").cast("double")
                          .alias("score"), "rank"))
    return out


def dsir_logratio(raw: DataFrame, target: DataFrame, id_col: str,
                  text_col: str, buckets: int = 10_000,
                  smooth_k: int = 1,
                  portable: bool = False) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW
    document by how much more likely its hashed-bigram features are
    under the TARGET distribution than under the raw distribution —
    log w(x) = Σ_features [ln p_target(b) - ln p_raw(b)] — then
    resample the raw corpus with these weights (feed `logratio` to
    sampling.weighted_sample / take_until_budget) to tilt a web-scale
    crawl toward a high-quality target (Wikipedia, books) without
    training a model.

    Features are word bigrams hashed into `buckets` buckets —
    xxhash64 by default, or with `portable=True` the md5 family
    (dedup._port_tok_hash mod buckets) the SQL oracle reproduces
    bit-for-bit; both distributions Laplace-smooth with `smooth_k`
    over the bucket space, so every bucket has finite mass in both. Docs with fewer than 2 tokens have no
    features and are absent (left-join back for pass-through).

    Output: (id_col, n_feats, logratio) — logratio is the decimal-
    quantized feature sum rendered varchar→double (each ln quantized
    to decimal(38,6) BEFORE the subtraction and sum, the
    unigram_logprob order-independence contract).

    Scale: the two bucket-count maps aggregate to AT MOST `buckets`
    rows each — broadcast by construction at ANY corpus size (this
    is DSIR's whole trick: the model is a fixed-width histogram, not
    a vocabulary); they are collected once (one job per
    distribution, totals computed driver-side from the same rows)
    and re-enter the plan as broadcast local relations. Scoring is
    one array-expression bigram extraction, one hash projection, two
    broadcast joins, one doc groupBy."""
    from sybil_spark.operators.dedup import _port_tok_hash

    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    bg = F.concat_ws(" ", F.col("prev"), F.col("tok"))
    # xxhash64 is the scale default (~2-3x cheaper per bigram);
    # portable=True swaps in the md5 family the SQL oracle inlines —
    # the standing portable-hash convention of the dedup pipelines.
    # Bucket IDENTITY differs between the two, but both are uniform
    # hashes into the same bucket space, so scores are statistically
    # equivalent; pick one mode per pipeline run.
    bucket = (F.pmod(_port_tok_hash(bg), F.lit(buckets)) if portable
              else F.pmod(F.xxhash64(bg), F.lit(buckets)))

    from sybil_spark.operators._util import spread

    def counts(df):
        # spread: the explode + per-bigram md5 amplifies ~50x inside
        # the stage, so a compact parquet input must re-split before
        # it (no-op when the input already has >= cores partitions).
        # The map is ≤ `buckets` rows BY CONSTRUCTION (DSIR's whole
        # trick), and it was always driver-bounded — F.broadcast
        # pulls it through the driver anyway — so collect it outright
        # (r10): one job per map instead of localCheckpoint
        # materialization + a separate totals-aggregate job, and the
        # totals fall out of the collected rows for free. The corpus
        # scan still runs exactly once per distribution.
        return (_bigrams(spread(df), text_col, "__absent__")
                .select(bucket.alias("__b"))
                .groupBy("__b").agg(F.count(F.lit(1)).alias("cnt"))
                .collect())

    spark = raw.sparkSession
    t_rows, r_rows = counts(target), counts(raw)
    t_total = sum(r["cnt"] for r in t_rows)
    r_total = sum(r["cnt"] for r in r_rows)
    if not t_total or not r_total:
        raise ValueError("dsir_logratio: empty target or raw corpus "
                         "(no bigram features)")
    schema = "__b bigint, cnt bigint"
    tc = spark.createDataFrame([(int(r["__b"]), int(r["cnt"]))
                                for r in t_rows], schema)
    rc = spark.createDataFrame([(int(r["__b"]), int(r["cnt"]))
                                for r in r_rows], schema)
    t_den = float(t_total + smooth_k * buckets)
    r_den = float(r_total + smooth_k * buckets)
    feats = (_bigrams(spread(raw), text_col, id_col)
             .select("__id", bucket.alias("__b"))
             .join(F.broadcast(tc.withColumnRenamed("cnt", "__tc")),
                   "__b", "left")
             .join(F.broadcast(rc.withColumnRenamed("cnt", "__rc")),
                   "__b", "left"))
    k = F.lit(smooth_k)
    ln_t = F.log((F.coalesce(F.col("__tc"), F.lit(0)) + k)
                 .cast("double") / F.lit(t_den)).cast(_DEC)
    ln_r = F.log((F.coalesce(F.col("__rc"), F.lit(0)) + k)
                 .cast("double") / F.lit(r_den)).cast(_DEC)
    return (feats.groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_feats"),
                 F.sum(ln_t - ln_r).alias("__s"))
            .select(F.col("__id").alias(id_col), "n_feats",
                    F.col("__s").cast("string").cast("double")
                     .alias("logratio")))


def _bm25_tf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, tok, tf, pos): the grouped token stats every BM25 index
    writer shares (build / batch add / streaming add — one
    definition so the three paths can never drift). `pos` is the
    sorted array of 0-based token positions: it rides on the posting
    row at ~one int per token occurrence and turns the index
    POSITIONAL, so exact phrase queries (phrase_index_topk) serve
    from the same partition-pruned buckets as term queries.
    collect_list order is shuffle-dependent — sort_array pins it."""
    toks = df.select(F.col(id_col).alias("doc"),
                     F.posexplode(tokens(F.col(text_col)))
                      .alias("p", "tok"))
    return toks.groupBy("doc", "tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("p")).alias("pos"))


#: posting-row schema shared by the base postings, add pieces and
#: stream batches; compact/serve select exactly this set when merging
BM25_POSTING_COLS = ["doc", "tok", "tf", "pos", "dl", "df_t", "pb"]

#: on-disk index format. 1 = original (doc, tok, tf, dl, df_t, pb)
#: postings; 2 = positional (added the `pos` array column). Bumped
#: whenever the posting schema changes incompatibly.
BM25_FORMAT = 2


def _bm25_meta(index_path: str) -> dict:
    """Load and validate bm25_meta.json. Every reader (add, compact,
    serve, phrase/proximity, hybrid RRF, streaming add) goes through
    here so a pre-positional index fails with an actionable
    'rebuild required' error instead of an AnalysisException about a
    missing `pos` column halfway into a locked fold."""
    import os

    meta = commit.read_json(os.path.join(index_path, "bm25_meta.json"))
    fmt = int(meta.get("format", 1))
    if fmt != BM25_FORMAT:
        raise ValueError(
            f"BM25 index at {index_path} is format {fmt}; this "
            f"engine reads format {BM25_FORMAT} (positional "
            f"postings). Rebuild it with build_bm25_index — appends "
            f"and serves refuse old indexes rather than corrupt "
            f"them.")
    return meta


def build_bm25_index(df: DataFrame, id_col: str, text_col: str,
                     index_path: str, nbuckets: int = 64) -> None:
    """Persist a BM25 inverted index — the lexical mirror of
    similarity.build_ivf_index: `index_path/postings/` holds one row
    per (token, doc) partitioned by `pb = pmod(xxhash64(tok),
    nbuckets)`, with the document length and the token's document
    frequency DENORMALIZED onto the posting row, and
    `bm25_meta.json` holds the corpus scalars (n_docs, avgdl,
    column names, nbuckets).

    This is the serving shape the ad-hoc bm25_topk can't give you:
    at query time the query's tokens map to a bucket set on the
    driver, the `pb IN (...)` predicate becomes PARTITION PRUNING —
    only |query-token buckets|/nbuckets of the corpus postings are
    listed or read — and because dl/df ride on the row there are NO
    side joins against full tables. Scoring arithmetic is
    bm25_topk's exactly, so the two forms are bit-identical.

    Continuous ingestion appends through `bm25_index_add` (exact —
    see its docstring for why the token-hash partitioning makes
    incremental df maintenance bounded); a full rebuild is only the
    compaction/defrag path. Holds the index path lock across the
    overwrite + meta rewrite, shared with bm25_index_add."""
    import os

    from sybil_spark.sources.locks import path_lock

    from pyspark import StorageLevel

    # persist tf across the build's two jobs (the stats collect and
    # the postings write) — without it the tokenize+shuffle, the
    # most expensive stage of the build, runs twice; released before
    # returning (self-contained, unlike bm25_topk's caller-owned
    # handle)
    tf = (_bm25_tf(df, id_col, text_col)
          .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
        dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
        stats = dl.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("dl").alias("s")).collect()[0]
        if not stats["n"]:
            raise ValueError("build_bm25_index: empty corpus")
        with path_lock(index_path):
            (tf.join(dl, "doc").join(dfreq, "tok")
               .withColumn("pb", F.pmod(F.xxhash64("tok"),
                                        F.lit(nbuckets)))
               .write.partitionBy("pb").mode("overwrite")
               .parquet(os.path.join(index_path, "postings")))
            commit.write_json(
                os.path.join(index_path, "bm25_meta.json"),
                {"format": BM25_FORMAT,
                 "id_col": id_col, "text_col": text_col,
                 "nbuckets": nbuckets,
                 "n_docs": int(stats["n"]),
                 "sum_dl": int(stats["s"])})
    finally:
        tf.unpersist()


def bm25_index_add(df: DataFrame, index_path: str,
                   mode: str = "rescore") -> int:
    """Incrementally add documents to a persisted BM25 index — the
    lexical mirror of similarity.ivf_index_add, closing the gap
    where continuous ingestion (the engine's own streaming story)
    forced a full index rebuild per batch. Returns the number of
    documents added. Contract: append-only NEW doc ids (re-adding
    an id double-counts its postings — same as ivf_index_add).

    The append itself is ONE atomic commit: the batch tokenizes
    into a pb-partitioned `postings_adds/add-<uuid>` piece whose
    _delta.json count sidecar is written LAST — before the sidecar
    exists the piece is invisible, after it the piece is complete,
    so a crash anywhere leaves no torn state (counts ride WITH the
    rows; the base meta is never mutated by an append — an earlier
    design bumped n_docs/sum_dl in the meta as a second write, and
    a crash between the two commits served wrong idf/avgdl).
    Serving merges committed pieces: bm25_index_topk unions their
    pruned scans (they are pb-partitioned, so partition pruning
    applies), corrects n_docs/avgdl from the sidecars, and
    recomputes df from the pruned scan — EXACT at every point, by
    the token-hash colocation argument (every posting of a token,
    base or appended, lives in one bucket).

    `mode="defer"` stops there — the cheapest write, for
    high-frequency appends; serving pays one extra aggregation over
    the pruned buckets until a compact. Deferred pieces do NOT
    accumulate unboundedly: the add triggers the compactor under the
    same lock hold once committed pending pieces pass the thresholds
    (piece count > `ingest.FILE_DIGEST_THRESHOLD` = 256 or bytes >
    `ingest.SIZE_DIGEST_THRESHOLD_KB` = 2048 KB — ingest.
    maybe_digest's reference values, src/lib/table_ingest.go:63-71 /
    row_store.go:77-123, applied to the index lifecycle), so a long
    defer-add sequence stays under the piece budget with serving
    bit-equal throughout (the fold is exact). `mode="rescore"`
    (default) unconditionally runs the compactor under the SAME lock
    hold, folding all pending pieces into the base postings with exact
    denormalized df (bm25_index_compact — a whole-index-dir staged
    swap, the one crash-atomic unit for in-place repair), restoring
    the fast no-recompute serving path immediately. Both modes are
    exact; they trade write cost against serve cost.

    Serializes on the index path lock shared with build/serve-side
    rebuilds, so concurrent adds can't interleave with a compact's
    read-fold-swap."""
    import os
    import uuid

    from pyspark import StorageLevel

    from sybil_spark.sources.locks import path_lock

    if mode not in ("rescore", "defer"):
        raise ValueError(f"bm25_index_add: unknown mode {mode!r}")
    spark = df.sparkSession
    with path_lock(index_path):
        meta = _bm25_meta(index_path)
        tf = (_bm25_tf(df, meta["id_col"], meta["text_col"])
              .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
            stats = dl.agg(F.count(F.lit(1)).alias("n"),
                           F.sum("dl").alias("s")).collect()[0]
            n_new = int(stats["n"] or 0)
            if n_new == 0:
                return 0
            # df_t = within-batch df, a placeholder for schema
            # parity with the base postings: serving recomputes df
            # whenever pending pieces exist, and the compact fold
            # recomputes it globally
            bdf = tf.groupBy("tok").agg(
                F.count(F.lit(1)).alias("df_t"))
            piece = (tf.join(dl, "doc").join(bdf, "tok")
                       .withColumn("pb",
                                   F.pmod(F.xxhash64("tok"),
                                          F.lit(meta["nbuckets"]))))
            adir = os.path.join(index_path, "postings_adds",
                                f"add-{uuid.uuid4().hex[:12]}")
            (piece.write.partitionBy("pb").mode("overwrite")
                  .parquet(adir))
            # sidecar LAST: the single commit point
            commit.write_json(os.path.join(adir, "_delta.json"),
                              {"n": n_new, "s": int(stats["s"])})
        finally:
            tf.unpersist()
        if mode == "rescore":
            _bm25_compact_locked(spark, index_path)
        else:
            from sybil_spark.sources import ingest
            # small-files pressure of the COMMITTED pending pieces —
            # directory metadata only (the should_digest contract)
            pdirs = _bm25_pending_state(index_path)[0]
            n_b = sum(commit.usage(d)[1] for d in pdirs)
            if (len(pdirs) > ingest.FILE_DIGEST_THRESHOLD
                    or n_b > ingest.SIZE_DIGEST_THRESHOLD_KB * 1024):
                _bm25_compact_locked(spark, index_path)
        return n_new


def _bm25_pending_state(index_path: str):
    """Committed-but-unfolded append pieces of a BM25 index:
    streamed micro-batches under `<index>/postings_stream/batch-<n>`
    (stream_bm25_index_add) and batch appends under
    `<index>/postings_adds/add-<uuid>` (bm25_index_add). Both use
    the same sidecar-LAST commit protocol — a dir counts only with
    Spark's _SUCCESS and the _delta.json count sidecar, so a crash
    mid-append leaves NO observable state change (the sidecar is the
    single commit point; counts ride with the rows instead of a
    separate meta mutation that could tear from them). Returns
    (piece_dirs, n_docs_delta, sum_dl_delta, max_stream_batch_id);
    half-written pieces are invisible and are replaced by their
    replay (stream) or re-issued by the caller (add)."""
    import os

    dirs, n, s, mx = [], 0, 0, -1
    for sub, prefix, track_id in (("postings_stream", "batch-", True),
                                  ("postings_adds", "add-", False)):
        for pid, d in commit.pieces(os.path.join(index_path, sub),
                                    prefix, "_SUCCESS", "_delta.json"):
            if track_id:
                try:
                    mx = max(mx, int(pid))
                except ValueError:
                    continue
            delta = commit.read_json(os.path.join(d, "_delta.json"))
            dirs.append(d)
            n += int(delta["n"])
            s += int(delta["s"])
    return dirs, n, s, mx


def bm25_index_compact(spark, index_path: str) -> int:
    """Defragment a BM25 index and FOLD its pending appends: every
    committed `bm25_index_add` piece (postings_adds/add-<uuid>) and
    `stream_bm25_index_add` micro-batch (postings_stream/batch-<id>)
    sits beside the base postings until folded — the classic
    streaming small-files problem — and serving pays a df
    aggregation over the pruned scan while any pending piece exists.
    This job rewrites the postings from the postings THEMSELVES — no
    re-tokenization, the expensive stage of a full build — merged with
    every committed pending piece, coalesced to one file per bucket
    with df_t recomputed exactly (token-hash colocation again), folds
    the piece deltas into the meta scalars, clears the legacy
    `df_on_read`/`stale_pb` flags, and advances
    `stream_fold_watermark` so a replayed already-folded micro-batch
    skips instead of double-appending (the compact_dedup_index
    protocol). Returns the number of posting rows written.

    The ENTIRE index dir is swapped as one unit (commit.staged_swap;
    the path lock lives beside the store, so it survives the rename,
    and taking it undoes a swap that crashed between its renames): a
    crash leaves either the old index — postings + pending pieces +
    old meta, still consistent — or the new one, never a state where
    folded rows are counted twice through both postings and a
    surviving piece dir. This whole-dir swap is the ONE crash-atomic
    unit for in-place repair, which is why appends never rewrite
    buckets themselves. Uncommitted (crashed mid-write) pieces are
    dropped with the old dir — a stream replay recreates its batch
    (its id is above every folded id), and an uncommitted add was
    never acknowledged to its caller.

    Scale: one hash exchange on the partition key; at 100 TB run it
    per-bucket-range if a full-table rewrite is too large a unit of
    work. Holds the index path lock — adds, streams, and rebuilds
    serialize behind it."""
    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        return _bm25_compact_locked(spark, index_path)


def _bm25_compact_locked(spark, index_path: str) -> int:
    """bm25_index_compact's body, for callers already holding the
    index path lock (bm25_index_add's rescore mode runs the fold
    inside its own lock hold)."""
    import os

    meta = _bm25_meta(index_path)
    post_p = os.path.join(index_path, "postings")
    pdirs, pn, ps_, smax = _bm25_pending_state(index_path)
    cols = [c for c in BM25_POSTING_COLS if c != "df_t"]
    post = spark.read.parquet(post_p).select(*cols)
    for d in pdirs:
        post = post.unionByName(
            spark.read.parquet(d).select(*cols))
    dfreq = post.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df_t"))
    # hash-exchange on the partition key: one write task per
    # bucket => one file per bucket dir; localCheckpoint breaks the
    # lineage so the staged write never re-reads the dirs the swap
    # renames away
    out = (post.join(dfreq, "tok")
               .repartition(max(1, meta["nbuckets"]), F.col("pb"))
               .localCheckpoint(eager=True))
    n = out.count()
    meta["n_docs"] = int(meta["n_docs"]) + pn
    meta["sum_dl"] = int(meta["sum_dl"]) + ps_
    if smax >= 0:
        meta["stream_fold_watermark"] = max(
            int(meta.get("stream_fold_watermark", -1)), smax)
    meta.pop("df_on_read", None)
    meta.pop("stale_pb", None)
    meta["format"] = BM25_FORMAT

    def write(tmp: str) -> None:
        out.write.partitionBy("pb").parquet(
            os.path.join(tmp, "postings"))
        commit.write_json(os.path.join(tmp, "bm25_meta.json"), meta)

    commit.staged_swap(index_path, write)
    return n


def bm25_index_topk(spark, index_path: str,
                    queries: list[tuple], k: int = 10,
                    k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Query a persisted BM25 index (build_bm25_index): top-k docs
    per (q_id, q_text) pair, bit-identical to running bm25_topk over
    the original corpus with the same parameters (same idf variant,
    same decimal(38,6) per-term quantization, same varchar->double
    render, same (score desc, doc asc) tie-break).

    `queries` is a driver-side list — the same smallness contract as
    IVF probe ranking; the whole point is that the EXPENSIVE side
    (the postings) is read through `pb IN (query-token buckets)`,
    a partition-directory predicate: unmatched buckets are never
    listed, read, or scored (pin: test_plans asserts PartitionFilters
    on the scan). k1/b are serve-time knobs — only df/dl/avgdl are
    frozen in the index.

    Committed pending pieces — `bm25_index_add` add dirs and
    `stream_bm25_index_add` micro-batches — merge at serve time:
    their postings (also pb-partitioned, so pruning applies) union
    the base scan, their sidecar deltas correct n_docs/avgdl, and df
    is recomputed from the pruned scan — results stay bit-equal to a
    full rebuild over base + appended docs at every point until
    bm25_index_compact folds them back onto the fast path."""
    import os

    from pyspark.sql import Window

    meta = _bm25_meta(index_path)
    sdirs, sn, ss, _smax = _bm25_pending_state(index_path)
    n_docs = int(meta["n_docs"]) + sn
    avgdl = float(int(meta["sum_dl"]) + ss) / float(n_docs)
    from sybil_spark.functions.text import tokenize_str
    qt_rows = [(qid, t) for qid, qtext in queries
               for t in dict.fromkeys(tokenize_str(qtext))]
    if not qt_rows:
        doc_t = (spark.read.parquet(os.path.join(index_path,
                                                 "postings"))
                 .schema["doc"].dataType.simpleString())
        # q_id type from the caller's ids (the non-empty branch
        # infers it from data) so an empty query list yields a
        # union-compatible schema for any id type
        q_t = ("string" if queries and isinstance(queries[0][0], str)
               else "long")
        return spark.createDataFrame(
            [], f"q_id {q_t}, {meta['id_col']} {doc_t}, "
                "score double, rank int")
    qt = spark.createDataFrame(qt_rows, ["q_id", "tok"])
    # bucket the query tokens with the SAME JVM hash the index was
    # partitioned with (a tiny 1-job collect — q-tokens rows)
    buckets = [r["pb"] for r in
               qt.select(F.pmod(F.xxhash64("tok"),
                                F.lit(meta["nbuckets"])).alias("pb"))
                 .distinct().collect()]
    post = (spark.read.parquet(os.path.join(index_path, "postings"))
            .where(F.col("pb").isin(buckets)))
    if sdirs:
        cols = BM25_POSTING_COLS
        post = post.select(*cols)
        for d in sdirs:
            post = post.unionByName(
                spark.read.parquet(d).select(*cols)
                     .where(F.col("pb").isin(buckets)))
    if meta.get("df_on_read") or sdirs:
        # defer-mode appends / streamed batches staled the
        # denormalized df_t; recompute it from the pruned scan —
        # exact, because the token-hash partitioning colocates every
        # posting of a token (old AND appended) in one bucket. One
        # extra aggregation over only the query-token buckets;
        # rescore/compact restores the fast path.
        post = (post.drop("df_t")
                .withColumn("df_t",
                            F.count(F.lit(1)).over(
                                Window.partitionBy("tok"))))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5)))
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (F.lit(1.0 - b)
                                + F.lit(b) * F.col("dl").cast("double")
                                / F.lit(avgdl))
    term = idf * tf_d * F.lit(k1 + 1.0) / denom
    scored = (post.join(F.broadcast(qt), "tok")
                  .withColumn("__term", term)
                  .groupBy("q_id", "doc")
                  .agg(exact_sum("__term").alias("__s")))
    w = Window.partitionBy("q_id").orderBy(F.desc("__s"),
                                           F.asc("doc"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("q_id", F.col("doc").alias(meta["id_col"]),
                          F.col("__s").cast("string").cast("double")
                           .alias("score"), "rank"))


def _positional_map(spark, index_path: str, meta: dict,
                    toks: list[str]) -> DataFrame:
    """Partition-pruned positional read shared by phrase_index_topk
    and proximity_topk: (doc, __m[tok -> sorted positions]) for a
    driver-side token set, base postings + committed pending pieces.

    Duplicate (doc, tok) postings — an off-contract re-added doc id
    — fold into ONE map entry (position arrays concatenated and
    re-sorted) BEFORE the map pack: map_from_entries over duplicate
    keys throws SparkRuntimeException under the default
    DUPLICATE_MAP_KEY policy, which made a degraded index serve term
    queries (where the duplicate merely double-counts) but crash
    phrase/proximity ones. One pre-aggregation makes all three query
    shapes degrade the same way."""
    import os

    sdirs, _n, _s, _mx = _bm25_pending_state(index_path)
    tdf = spark.createDataFrame([(t,) for t in toks], "tok string")
    buckets = [r["pb"] for r in
               tdf.select(F.pmod(F.xxhash64("tok"),
                                 F.lit(meta["nbuckets"])).alias("pb"))
                  .distinct().collect()]
    base_cols = ["doc", "tok", "pos", "pb"]
    post = (spark.read.parquet(os.path.join(index_path, "postings"))
            .select(*base_cols)
            .where(F.col("pb").isin(buckets)))
    for d in sdirs:
        post = post.unionByName(
            spark.read.parquet(d).select(*base_cols)
                 .where(F.col("pb").isin(buckets)))
    per_tok = (post.where(F.col("tok").isin(toks))
                   .groupBy("doc", "tok")
                   .agg(F.sort_array(F.flatten(F.collect_list("pos")))
                         .alias("pos")))
    return (per_tok.groupBy("doc")
                   .agg(F.map_from_entries(
                        F.collect_list(F.struct("tok", "pos")))
                        .alias("__m")))


def phrase_index_topk(spark, index_path: str, phrase: str,
                      k: int = 10) -> DataFrame:
    """Exact phrase query served from the persisted BM25 index's
    positional postings — the capability the positions column exists
    for: top-k documents by occurrence count of the exact token
    phrase, WITHOUT a corpus scan. Bit-identical to
    phrase_search(df).orderBy(n desc, id)(k) over the original
    corpus, by construction: positions are the tokenizer's own
    indices, and intersection arithmetic is exact integers.

    Plan: the phrase's distinct tokens map to buckets on the driver
    (same 1-job JVM-hash collect as bm25_index_topk) → the postings
    read is partition-pruned to those buckets → filtered to the
    phrase tokens → ONE groupBy(doc) packs a token→positions map per
    candidate doc (only docs containing at least one phrase token
    ever leave the scan; the map carries at most n_phrase_tokens
    entries) → occurrence count is the classic positional-merge,
    expressed as a codegen fold: positions of word_0 intersected
    with (positions of word_j shifted by -j) for each later j.
    Docs missing ANY phrase term are dropped by a null check before
    the fold. Pending add/stream pieces merge exactly as in
    bm25_index_topk (pb-partitioned, so pruning applies; phrase
    counting needs no df correction at all).

    Output: (doc_id_col, n_matches, rank), ordered; overlapping
    occurrences count (stride-1 semantics, matching
    phrase_match_count)."""
    from pyspark.sql import Window

    from sybil_spark.functions.text import tokenize_str

    words = tokenize_str(phrase)
    if not words or not any(words):
        raise ValueError("phrase_index_topk: empty phrase")
    uniq = list(dict.fromkeys(words))
    meta = _bm25_meta(index_path)
    cand = _positional_map(spark, index_path, meta, uniq)
    m = F.col("__m")
    has_all = F.lit(True)
    for t in uniq:
        has_all = has_all & m.getItem(t).isNotNull()

    def shift(jv: int):
        # closure factory: a default-arg lambda would present arity 2
        # and F.transform would feed it (element, index)
        return lambda p: p - F.lit(jv)

    acc = m.getItem(words[0])
    for j, t in enumerate(words[1:], start=1):
        acc = F.array_intersect(acc, F.transform(m.getItem(t),
                                                 shift(j)))
    scored = (cand.where(has_all)
                  .select("doc", F.size(acc).cast("long")
                           .alias("n_matches"))
                  .where(F.col("n_matches") > 0))
    # distributed top-k first (TakeOrderedAndProject), THEN the rank
    # window — unpartitioned windows only ever run on the k-row frame
    top = (scored.orderBy(F.desc("n_matches"), F.asc("doc"))
                 .limit(int(k)))
    w = Window.orderBy(F.desc("n_matches"), F.asc("doc"))
    return (top.withColumn("rank", F.row_number().over(w))
               .select(F.col("doc").alias(meta["id_col"]),
                       "n_matches", "rank"))


def vocab_growth(df: DataFrame, id_col: str, text_col: str,
                 bucket_width: int = 50) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative document,
    token, and DISTINCT-token counts at doc-id bucket boundaries —
    the tokenizer-sizing / corpus-saturation diagnostic ("is more
    data still adding vocabulary?").

    The naive formulation (distinct-so-far per prefix) is quadratic;
    the scale shape here is the standard inversion: a token's
    contribution to the vocabulary curve is fully determined by its
    FIRST-occurrence doc id, so one explode + groupBy(token) min(id)
    (the only corpus-sized shuffle) reduces the curve to per-bucket
    new-type counts, and the cumulative sums run as a window over the
    bucket frame — thousands of rows at any corpus size, so the
    single-partition window is bounded by construction.

    Output: (bucket, docs_cum, tokens_cum, vocab_cum), bucket =
    id div bucket_width. All counts exact integers."""
    from pyspark.sql import Window

    bucket = F.expr(f"{id_col} div {bucket_width}").alias("bucket")
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    new_types = (toks.groupBy("tok").agg(F.min("__id").alias("first_id"))
                 .groupBy(F.expr(f"first_id div {bucket_width}")
                          .alias("bucket"))
                 .agg(F.count(F.lit(1)).alias("new_types")))
    n_toks = (toks.groupBy(F.expr(f"__id div {bucket_width}")
                           .alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n_tokens")))
    n_docs = df.groupBy(bucket).agg(F.count(F.lit(1)).alias("n_docs"))
    joined = (n_docs.join(n_toks, "bucket", "full")
                    .join(new_types, "bucket", "full"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return (joined.select(
        "bucket",
        F.sum(z("n_docs")).over(w).alias("docs_cum"),
        F.sum(z("n_tokens")).over(w).alias("tokens_cum"),
        F.sum(z("new_types")).over(w).alias("vocab_cum")))


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 256) -> DataFrame:
    """Least-squares fit of log(freq) ~ log(rank) over the top-N
    terms — the Zipf-law exponent (slope ≈ −1 for natural language;
    a flat slope flags templated/synthetic text, a cliff flags
    boilerplate domination). Corpus-health metric from the same
    family as corpus_divergence.

    One corpus-sized explode+groupBy builds term frequencies; the
    fit itself runs on the top-N frame (orderBy+limit — top-N is a
    driver knob, hundreds of rows at any corpus size, so the rank
    window's single partition is bounded). Rank ties break (cnt
    desc, tok asc) — deterministic on any engine.

    Cross-engine exactness: Σx, Σy, Σx², Σxy accumulate as
    decimal(38,6) casts of the ln() doubles (order-independent exact
    sums, ln bit-parity already load-bearing for bm25/doc_logprob),
    render through the varchar round-trip, and the closed-form
    slope/intercept arithmetic is the IDENTICAL double expression on
    both engines. Output: 1 row (n_terms, slope, intercept)."""
    from pyspark.sql import Window

    freqs = (unigram_model(df, text_col)
             .orderBy(F.desc("cnt"), F.asc("tok")).limit(top_n))
    rk = F.row_number().over(
        Window.orderBy(F.desc("cnt"), F.asc("tok")))
    xy = freqs.select(
        F.log(rk.cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    d = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    sums = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        exact_sum("x").alias("sx"),
        exact_sum("y").alias("sy"),
        exact_sum("x * x").alias("sxx"),
        exact_sum("x * y").alias("sxy"))
    n = F.col("n_terms").cast("double")
    slope = ((n * d("sxy") - d("sx") * d("sy"))
             / (n * d("sxx") - d("sx") * d("sx")))
    return sums.select(
        "n_terms", slope.alias("slope"),
        ((d("sy") - slope * d("sx")) / n).alias("intercept"))


def ngram_precision(df: DataFrame, id_col: str, cand_col: str,
                    ref_col: str, n: int = 2) -> DataFrame:
    """Clipped n-gram precision (the BLEU p_n building block) per
    (candidate, reference) row — the eval-pipeline overlap metric:
    of the candidate's n-grams, how many appear in the reference,
    each match CLIPPED by the reference's own count of that n-gram
    (Papineni et al. 2002 — clipping is what stops "the the the"
    from scoring 1.0 against any reference containing "the").

    Scale shape: explode both sides to (id, ngram) counts — two
    groupBys that hash-partition on the SAME (id, g) key, so the
    clip join is co-partitioned — then one per-id aggregate. All
    counts exact integers; precision is one double division of two
    bigints, cross-engine bit-stable.

    Output: (id_col, n_cand, n_clip, precision); precision NULL for
    a candidate with no n-grams."""
    from sybil_spark.functions.text import ngrams

    cg = (df.select(F.col(id_col).alias("__id"),
                    F.explode(ngrams(F.col(cand_col), n)).alias("g"))
            .groupBy("__id", "g").agg(F.count(F.lit(1)).alias("c")))
    rg = (df.select(F.col(id_col).alias("__id"),
                    F.explode(ngrams(F.col(ref_col), n)).alias("g"))
            .groupBy("__id", "g").agg(F.count(F.lit(1)).alias("r")))
    j = (cg.join(rg, ["__id", "g"], "left")
           .select("__id", "c",
                   F.least(F.col("c"),
                           F.coalesce(F.col("r"),
                                      F.lit(0).cast("long")))
                    .alias("clip")))
    return (j.groupBy("__id")
             .agg(F.sum("c").alias("n_cand"),
                  F.sum("clip").alias("n_clip"))
             .select(F.col("__id").alias(id_col), "n_cand", "n_clip",
                     (F.col("n_clip").cast("double")
                      / F.col("n_cand")).alias("precision")))


def stupid_backoff_logprob(df: DataFrame, id_col: str, text_col: str,
                           alpha: float = 0.4) -> DataFrame:
    """Per-document mean log-score under Stupid Backoff (Brants et
    al. 2007, "Large Language Models in Machine Translation") — the
    smoothing DESIGNED for distributed, corpus-scale LMs: no
    discount mass to normalize across the cluster, just
    S(w|prev) = cnt(prev,w)/cnt(prev) when the bigram is seen, else
    alpha * cnt(w)/N. The first token of a document (no context)
    scores at its unigram MLE without the backoff penalty.

    Self-scoring (models built from `df` itself), so every token is
    in-vocabulary by construction. Exactness contract: every
    ln-score quantizes through the decimal(38,6) varchar round-trip
    before the order-independent decimal sum (the doc_logprob/
    char_entropy discipline — JVM ln is not libm-bit-equal).

    Output: (id_col, n_tokens, sum_score, mean_score).
    Scale: one posexplode scan; scoring is three narrow equi-joins
    (pair, context, unigram — Catalyst broadcasts small models) and
    one doc groupBy."""
    words = tokens(F.col(text_col))
    ex = df.select(F.col(id_col).alias("__id"), words.alias("__w")) \
           .select("__id", F.posexplode(F.col("__w")).alias("pos", "tok"),
                   F.col("__w"))
    ex = ex.select(
        "__id", "pos", "tok",
        F.when(F.col("pos") >= 1,
               F.element_at(F.col("__w"), F.col("pos"))).alias("prev"))
    m1 = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    n_total = m1.agg(F.sum("c1").alias("n")).collect()[0]["n"]
    if not n_total:
        # empty / all-empty-text corpus: no model to score against —
        # return the empty frame with the output schema instead of
        # building F.lit(float(None))
        spark = df.sparkSession
        id_t = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_t}, n_tokens bigint, "
                "sum_score double, mean_score double")
    pairs = ex.where(F.col("prev").isNotNull())
    m2 = pairs.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    cc = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("ccc"))
    j = (ex.join(m1, "tok")
           .join(m2, ["prev", "tok"], "left")
           .join(cc, "prev", "left"))
    nf = F.lit(float(n_total))
    uni = F.col("c1").cast("double") / nf
    sc = F.when(F.col("prev").isNull(), F.log(uni)) \
          .when(F.col("c2").isNotNull(),
                F.log(F.col("c2").cast("double")
                      / F.col("ccc").cast("double"))) \
          .otherwise(F.log(F.lit(float(alpha)) * uni))
    return (j.withColumn("__sc", sc).groupBy("__id")
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  exact_sum("__sc").alias("__s"))
             .select(F.col("__id").alias(id_col), "n_tokens",
                     F.col("__s").cast("string").cast("double")
                      .alias("sum_score"),
                     (F.col("__s").cast("string").cast("double")
                      / F.col("n_tokens")).alias("mean_score")))


# ---------------------------------------------------------------------------
# Blocklist (bad-words) filtering — the C4 rule
# ---------------------------------------------------------------------------

def blocklist_hits(df: DataFrame, id_col: str, text_col: str,
                   blocklist: list[str],
                   broadcast_list: bool = False) -> DataFrame:
    """df + `n_hits`: how many tokens of each document appear in the
    blocklist — the C4 "bad words" signal (C4 drops a page on ANY
    hit; Gopher-style variants threshold on a count or ratio, which
    is why the count, not just a flag, is exposed).

    Two plans, same result, chosen by list size:

    - literal (default): n_hits = size(filter(tokens, t -> t IN
      (<literals>))) — a pure map compiled into whole-stage codegen,
      zero shuffle, the right plan for the few-hundred-word lists
      real bad-word filters use.
    - broadcast_list=True: explode tokens -> broadcast hash semi-join
      against the list -> count per doc -> broadcast-join the counts
      back onto the (narrow) id spine. For 10k+ entry lists a
      literal IN would bloat the generated method past janino's
      comfort; the join plan keeps codegen small and the list off
      the plan string. Document text itself never shuffles in
      either plan.
    """
    if not broadcast_list:
        hit = F.size(F.filter(tokens(F.col(text_col)),
                              lambda t: t.isin(*blocklist)))
        return df.withColumn("n_hits", hit.cast("long"))
    spark = df.sparkSession
    bl = F.broadcast(spark.createDataFrame(
        [(w,) for w in blocklist], "tok string").distinct())
    tok = df.select(F.col(id_col).alias("__bid"),
                    F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = (tok.join(bl, "tok", "left_semi")
                 .groupBy("__bid")
                 .agg(F.count(F.lit(1)).alias("__c")))
    # no broadcast hint on `counts`: one row per document with >= 1
    # hit is unbounded in corpus size (a hit-heavy corpus would blow
    # the broadcast budget). The hint stays on the LIST side only;
    # AQE picks broadcast for counts at runtime when it happens to
    # be small, shuffle-hash otherwise — both correct, neither
    # driver-fatal.
    return (df.join(counts,
                    df[id_col] == counts["__bid"], "left")
              .drop("__bid")
              .withColumn("n_hits",
                          F.coalesce(F.col("__c"),
                                     F.lit(0).cast("long")))
              .drop("__c"))


def blocklist_filter(df: DataFrame, id_col: str, text_col: str,
                     blocklist: list[str], max_hits: int = 0,
                     broadcast_list: bool = False) -> DataFrame:
    """Documents surviving the bad-words rule: n_hits <= max_hits
    (C4 semantics at the default max_hits=0). Pass-through columns
    untouched; the filter is a map over the scan in the literal
    plan."""
    return (blocklist_hits(df, id_col, text_col, blocklist,
                           broadcast_list)
            .where(F.col("n_hits") <= F.lit(int(max_hits)))
            .drop("n_hits"))


def blocklist_stats(df: DataFrame, group_col: str, text_col: str,
                    id_col: str, blocklist: list[str],
                    max_hits: int = 0,
                    broadcast_list: bool = False) -> DataFrame:
    """(group, n_kept, n_dropped): the audit a corpus owner reads
    before committing to a blocklist — drop-rate by language/source
    exposes lists that silently erase a whole language (the
    documented failure mode of naive bad-word filtering). One scan:
    the hits column is computed per-row, then a grouped integer
    aggregation (map-side partial) to |groups| rows."""
    h = blocklist_hits(df, id_col, text_col, blocklist, broadcast_list)
    keep = (F.col("n_hits") <= F.lit(int(max_hits))).cast("long")
    return (h.groupBy(F.col(group_col))
             .agg(F.sum(keep).alias("n_kept"),
                  F.sum(F.lit(1) - keep).alias("n_dropped"))
             .orderBy(group_col))


# ---------------------------------------------------------------------------
# Exact phrase matching
# ---------------------------------------------------------------------------

def phrase_match_count(text_col, phrase: str, pattern: str | None = None):
    """Column: number of (stride-1, possibly overlapping) occurrences
    of the exact token phrase in the text — pure codegen array math,
    zero shuffle: filter the start-index range [1, len-n+1] on a
    conjunction of element_at equality checks. `when(size >= n)`
    guards the sub-n-token row (sequence(1, 0) would count DOWN).

    Tokenization is text.tokens / tokenize_str — the same single
    source every lexical operator shares, so phrase semantics agree
    with BM25/tf-idf term semantics by construction."""
    from sybil_spark.functions.text import tokenize_str
    words = tokenize_str(phrase, pattern)
    # "".split(" ") is [""], not [] — an all-empty token list is as
    # meaningless as an empty one
    if not words or not any(words):
        raise ValueError("phrase_match_count: empty phrase")
    n = len(words)
    toks = tokens(text_col, pattern)

    def is_match(i):
        cond = F.element_at(toks, i) == F.lit(words[0])
        for j, w in enumerate(words[1:], start=1):
            cond = cond & (F.element_at(toks, i + F.lit(j)) == F.lit(w))
        return cond

    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    return F.when(F.size(toks) >= F.lit(n),
                  F.size(F.filter(starts, is_match)).cast("long")) \
            .otherwise(F.lit(0).cast("long"))


def phrase_search(df: DataFrame, id_col: str, text_col: str,
                  phrase: str, pattern: str | None = None) -> DataFrame:
    """(id, n_matches) for every document containing the exact token
    phrase at least once — grep for the corpus, as one map over the
    scan (the column above) + a filter; ordered by id for stable
    output. At 100 TB this is a single pass with the text column
    pruned to exactly one read; for REPEATED phrase queries build
    the positional index and use phrase_index_topk instead."""
    return (df.select(F.col(id_col),
                      phrase_match_count(F.col(text_col), phrase,
                                         pattern).alias("n_matches"))
              .where(F.col("n_matches") > 0)
              .orderBy(id_col))


def phrase_blocklist_hits(df: DataFrame, id_col: str, text_col: str,
                          blocklist: list[str],
                          pattern: str | None = None) -> DataFrame:
    """df + `n_hits`: blocklist matching where entries may be
    MULTI-WORD phrases (real bad-word lists are full of them; a
    token-only filter silently never matches those entries).
    Single-token entries share one token-set filter pass
    (blocklist_hits' literal plan); each multi-word entry adds one
    phrase_match_count term — all of it one codegen projection,
    zero shuffle, so the plan is the same single map whatever the
    list mix. Counts are stride-1 overlapping, matching
    phrase_match_count."""
    singles = [w for w in blocklist
               if len([t for t in w.split(" ") if t]) == 1]
    multis = [w for w in blocklist
              if len([t for t in w.split(" ") if t]) > 1]
    hit = F.lit(0).cast("long")
    if singles:
        hit = hit + F.size(F.filter(
            tokens(F.col(text_col), pattern),
            lambda t: t.isin(*singles))).cast("long")
    for ph in multis:
        hit = hit + phrase_match_count(F.col(text_col), ph, pattern)
    return df.withColumn("n_hits", hit)


def phrase_blocklist_stats(df: DataFrame, group_col: str,
                           text_col: str, id_col: str,
                           blocklist: list[str], max_hits: int = 0,
                           pattern: str | None = None) -> DataFrame:
    """(group, n_kept, n_dropped) under the phrase-aware blocklist —
    blocklist_stats' audit shape over phrase_blocklist_hits."""
    h = phrase_blocklist_hits(df, id_col, text_col, blocklist,
                              pattern)
    keep = (F.col("n_hits") <= F.lit(int(max_hits))).cast("long")
    return (h.groupBy(F.col(group_col))
             .agg(F.sum(keep).alias("n_kept"),
                  F.sum(F.lit(1) - keep).alias("n_dropped"))
             .orderBy(group_col))


#: collocations: largest corpus token count N for which the exact
#: integer-product PMI is provably overflow-free — every count is
#: <= N, so c1l*c1r <= N^2 and c2*N <= N^2 must stay < 2^63;
#: N < floor(sqrt(2^63)) guarantees both.
COLLOC_EXACT_MAX_N = 3_037_000_499


def collocations(df: DataFrame, text_col: str, min_count: int = 5,
                 k: int = 20, pattern: str | None = None,
                 log_space: bool | None = None) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — the classic corpus-analysis signal for multi-word
    expressions (PMI = ln(P(l,r) / (P(l)·P(r)))), which feeds
    tokenizer vocabulary decisions and phrase-blocklist candidate
    mining. `min_count` is the standard low-frequency guard (PMI is
    notoriously noisy on rare pairs).

    Shape: bigram extraction is a per-document array transform
    (map-side, no window), so the corpus-sized work is two grouped
    counts — unigrams and bigrams — each with map-side partials;
    the PMI join runs on the VOCABULARY-sized frames (Heaps' law),
    never the corpus. N comes from the package's bounded 1-row
    collect pattern.

    Exactness — two result-compatible arithmetic paths, chosen by
    `log_space` (None = auto on the measured N):
    - exact-product (N <= COLLOC_EXACT_MAX_N ~ 3.04e9 tokens):
      c2·N and c1l·c1r are exact in int64 (every count <= N, so
      both products <= N² < 2^63), their doubles are exact below
      2^53, the division is one IEEE op, and the single ln()
      quantizes to decimal(38,6) — the 1-ulp-ln discipline — so
      ordering and values replicate in any SQL engine.
    - log-space (past ~3 billion tokens, where N² overflows int64):
      pmi = ln(c2) + ln(N) − ln(c1l) − ln(c1r), summed in double
      and quantized ONCE to decimal(38,6). Each ln is within 1 ulp,
      the 4-term sum within ~4 ulps (~1e-15 relative) — far inside
      the 1e-6 quantization step, so the two paths agree after
      quantization wherever both are defined, and the log path
      never overflows at any corpus size.
    Ties break (pmi desc, count desc, l, r). Empty split-artifact
    tokens are filtered (bpe.word_counts' convention) — they would
    otherwise inflate N and pair with real words."""
    toks = F.filter(tokens(F.col(text_col), pattern),
                    lambda t: t != "")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("l"),
                        F.element_at(toks, i + 1).alias("r")))) \
        .otherwise(F.array().cast(
            "array<struct<l:string,r:string>>"))
    from pyspark import StorageLevel

    from sybil_spark.operators._util import register_cached

    # persist the unigram counts: they feed the n_total collect AND
    # both sides of the PMI join — without the cache the corpus
    # tokenize+explode+groupBy (the expensive stage) runs again for
    # the join. Vocabulary-sized (Heaps' law), released by the
    # ambient cache_scope / unpersist_unscoped like bm25's tf frame.
    uni = register_cached(
        df.select(F.explode(toks).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    big = (df.select(F.explode(pairs).alias("p"))
             .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
             .groupBy("l", "r").agg(F.count(F.lit(1)).alias("c2")))
    n_total = uni.agg(F.sum("c1")).collect()[0][0]
    if not n_total:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "l string, r string, c2 bigint, pmi double")
    if log_space is None:
        log_space = int(n_total) > COLLOC_EXACT_MAX_N
    ul = uni.select(F.col("tok").alias("l"), F.col("c1").alias("c1l"))
    ur = uni.select(F.col("tok").alias("r"), F.col("c1").alias("c1r"))
    if log_space:
        pmi = (F.log(F.col("c2").cast("double"))
               + F.log(F.lit(float(n_total)))
               - F.log(F.col("c1l").cast("double"))
               - F.log(F.col("c1r").cast("double"))).cast(_DEC)
    else:
        pmi = F.log((F.col("c2") * F.lit(int(n_total))).cast("double")
                    / (F.col("c1l") * F.col("c1r")).cast("double")) \
            .cast(_DEC)
    return (big.where(F.col("c2") >= F.lit(int(min_count)))
               .join(ul, "l").join(ur, "r")
               .select("l", "r", "c2",
                       pmi.cast("string").cast("double").alias("pmi"))
               .orderBy(F.desc("pmi"), F.desc("c2"),
                        F.asc("l"), F.asc("r"))
               .limit(int(k)))


def proximity_topk(spark, index_path: str, term_a: str, term_b: str,
                   k: int = 10) -> DataFrame:
    """Two-term proximity ranking from the positional index: top-k
    documents containing BOTH terms, ranked by the minimal token
    distance between any occurrence pair (asc — closer is more
    relevant), ties (doc asc). The NEAR-operator of classic IR,
    served like phrase_index_topk: both terms' buckets partition-
    prune the postings read, one groupBy(doc) packs the two position
    arrays, and min |p - q| is a codegen array fold over the
    per-doc occurrence lists (O(tf_a · tf_b) per doc — bounded by
    document length, embarrassingly parallel, no shuffle after the
    pack). Pending add/stream pieces merge as in phrase_index_topk.

    The n-term generalization (minimal window covering all terms) is
    a k-way sorted merge — per-doc bounded, a mapInPandas candidate
    if ever needed; two-term NEAR covers the common query form with
    pure codegen, so it ships first."""
    from pyspark.sql import Window

    from sybil_spark.functions.text import tokenize_str

    # normalize through the index's own tokenizer (same contract as
    # phrase_index_topk): a term that is not exactly one token of
    # that tokenizer can never match a posting — raise instead of
    # silently returning an empty result
    norm = []
    for t in (term_a, term_b):
        w = [x for x in tokenize_str(t or "") if x]
        if len(w) != 1:
            raise ValueError(
                f"proximity_topk: term {t!r} does not normalize to "
                f"exactly one index token (got {w!r})")
        norm.append(w[0])
    term_a, term_b = norm
    meta = _bm25_meta(index_path)
    uniq = list(dict.fromkeys([term_a, term_b]))
    cand = _positional_map(spark, index_path, meta, uniq)
    m = F.col("__m")
    pa, pb_ = m.getItem(term_a), m.getItem(term_b)
    dists = F.flatten(F.transform(
        pa, lambda p: F.transform(pb_, lambda q: F.abs(p - q))))
    scored = (cand.where(pa.isNotNull() & pb_.isNotNull())
                  .select("doc",
                          F.array_min(dists).cast("long")
                           .alias("min_dist")))
    if term_a == term_b:
        # |p - p| = 0 is the term against itself; a same-term query
        # means "two occurrences near each other"
        scored = (cand.where(pa.isNotNull())
                  .where(F.size(pa) >= 2)
                  .select("doc", F.array_min(F.flatten(F.transform(
                      pa, lambda p: F.filter(
                          F.transform(pa, lambda q: F.abs(p - q)),
                          lambda d: d > 0))))
                      .cast("long").alias("min_dist")))
    top = (scored.orderBy(F.asc("min_dist"), F.asc("doc"))
                 .limit(int(k)))
    w = Window.orderBy(F.asc("min_dist"), F.asc("doc"))
    return (top.withColumn("rank", F.row_number().over(w))
               .select(F.col("doc").alias(meta["id_col"]),
                       "min_dist", "rank"))


def boolean_topk(spark, index_path: str, terms: list[str],
                 k: int = 10) -> DataFrame:
    """Ranked boolean AND over the positional index — the third
    query shape a positional index exists for, generalizing
    proximity_topk from 2 terms to n: top-k documents containing
    ALL of `terms`, ranked by the minimal window (max position −
    min position) covering one occurrence of every term (asc —
    tighter co-occurrence is more relevant), ties (doc asc).
    n = 2 reduces exactly to proximity_topk's min |p − q|; a single
    distinct term scores 0 (containment).

    Serving shape is phrase_index_topk's: the terms' buckets
    partition-prune the postings read (base + committed pending
    pieces), ONE groupBy(doc) packs the per-term position arrays,
    and the min-cover is pure codegen: for every candidate window
    start p (any occurrence of any term),
        cover(p) = max_t( min{q ∈ pos_t : q ≥ p} ) − p
    and the answer is the min over p — the classic anchor-scan
    identity (the optimal window's left edge is some term's
    occurrence, so scanning anchors is exact). Work per doc is
    O(n · tf · tf_t) array scans — bounded by document length,
    embarrassingly parallel, no shuffle after the pack — and avoids
    the O(Π tf_t) product the naive n-way nesting would pay.

    Terms are normalized through the index tokenizer (tokenize_str);
    duplicates collapse (boolean AND is a set predicate — for
    same-term proximity use proximity_topk)."""
    from pyspark.sql import Window

    from sybil_spark.functions.text import tokenize_str

    norm = []
    for t in terms:
        w_ = [x for x in tokenize_str(t or "") if x]
        if len(w_) != 1:
            raise ValueError(
                f"boolean_topk: term {t!r} does not normalize to "
                f"exactly one index token (got {w_!r})")
        norm.append(w_[0])
    uniq = list(dict.fromkeys(norm))
    if not uniq:
        raise ValueError("boolean_topk: no terms")
    meta = _bm25_meta(index_path)
    cand = _positional_map(spark, index_path, meta, uniq)
    m = F.col("__m")
    has_all = F.lit(True)
    for t in uniq:
        has_all = has_all & m.getItem(t).isNotNull()
    if len(uniq) == 1:
        scored = (cand.where(has_all)
                      .select("doc",
                              F.lit(0).cast("long").alias("min_cover")))
    else:
        merged = F.array_sort(F.flatten(F.array(
            *[m.getItem(t) for t in uniq])))

        def _ge(p):
            # closure factory, not a default-arg lambda: PySpark
            # infers HOF arity from the parameter count, and a
            # 2-param lambda would be fed (element, index)
            return lambda q: q >= p

        def cover(p):
            nxts = [F.array_min(F.filter(m.getItem(t), _ge(p)))
                    for t in uniq]
            all_hit = nxts[0].isNotNull()
            for nx in nxts[1:]:
                all_hit = all_hit & nx.isNotNull()
            return F.when(all_hit, F.greatest(*nxts) - p)

        scored = (cand.where(has_all)
                      .select("doc",
                              F.array_min(F.transform(merged, cover))
                               .cast("long").alias("min_cover")))
    top = (scored.orderBy(F.asc("min_cover"), F.asc("doc"))
                 .limit(int(k)))
    w = Window.orderBy(F.asc("min_cover"), F.asc("doc"))
    return (top.withColumn("rank", F.row_number().over(w))
               .select(F.col("doc").alias(meta["id_col"]),
                       "min_cover", "rank"))


def ngram_novelty(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3, shared_df: int = 2) -> DataFrame:
    """(id, n_grams, n_shared, novelty): per-document n-gram NOVELTY
    — the fraction of a document's distinct word n-grams that occur
    in NO other document (novelty = 1 − shared/total, shared = doc
    frequency >= `shared_df`). The memorization/boilerplate-risk
    audit: template-heavy and mirrored content rides novelty -> 0,
    genuinely unique text -> 1 — the per-document complement of the
    corpus-level dedup family (a doc can be exact-dup-free and still
    be 95% boilerplate n-grams).

    Scale shape: distinct n-grams per doc are a pure array transform
    (text.shingles — slice-truncation convention for short docs);
    the ONLY thing shuffled is (doc, 60-bit md5 hash) — n-gram TEXT
    never enters an exchange (the corpus-wide raw-text shuffle-key
    lint), and the doc-frequency aggregation gets full map-side
    partials. A 60-bit collision can only mark a unique gram shared
    (never the reverse); the SQL oracle applies the IDENTICAL hash,
    so results replicate exactly regardless. novelty divides two
    exact ints in double — cross-engine bit-exact."""
    from sybil_spark.functions.text import shingles

    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10) \
         .cast("long")
    per = (df.select(F.col(id_col),
                     F.explode(shingles(F.col(text_col), n))
                      .alias("gram"))
             .select(F.col(id_col), h.alias("h")))
    dfreq = per.groupBy("h").agg(
        F.countDistinct(id_col).alias("docs"))
    stats = (per.join(dfreq, "h")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_grams"),
                     F.sum((F.col("docs") >= F.lit(int(shared_df)))
                           .cast("long")).alias("n_shared")))
    return (df.select(F.col(id_col)).join(stats, id_col, "left")
              .select(id_col,
                      F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                      F.coalesce("n_shared", F.lit(0)).alias("n_shared"))
              .withColumn(
                  "novelty",
                  F.when(F.col("n_grams") > 0,
                         (F.col("n_grams") - F.col("n_shared"))
                         .cast("double")
                         / F.col("n_grams").cast("double"))
                   .otherwise(F.lit(0.0))))
