"""Deep scale rehearsal: 1x → 10x → 100x growth curves.

Two families, two execution paths:

- ``minhash_lsh`` (the bench-dominating custom pipeline, Python-built
  DataFrame ops): replicated documents with per-replica token
  suffixes (zero cross-replica shingle overlap — same construction as
  tools/scale_rehearsal.py), measured at 1x/10x/100x. 100x ≈ 500k
  docs / ~27M tokens on sf0.1 — the regime where a hidden quadratic
  stage or an unbounded shuffle would show immediately.
- ``tpch_q1`` / ``tpch_q3`` (pure Catalyst path): lineitem/orders
  replicated 10x with shifted keys, dims untouched (broadcast side
  stays realistic). Measured 1x vs 10x.

Replicated frames are injected into corpus._TABLE_CACHE under
synthetic dir keys, so the MEASURED CODE IS the corpus queries
verbatim — no reimplementation drift.

Near-linear growth (t_Nx / t_1x ≲ N, typically well under on 32
cores) is the acceptance signal; ratios print as one JSON line.

Usage: python tools/scale_rehearsal_100x.py   [~3-6 min]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _replicate_docs(spark, F, n):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    reps = []
    for i in range(n):
        reps.append(base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.concat(F.regexp_replace("text", " ", f"_r{i} "),
                     F.lit(f"_r{i}")).alias("text")))
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    # repartition BEFORE the checkpoint: a 100x union of 1-partition
    # scans would otherwise checkpoint into 100 tiny partitions and
    # understate shuffle behavior
    return big.repartition(32).localCheckpoint(eager=True)


def _replicate_tpch(spark, F, corpus, n, tag):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    shift = 100_000_000
    lis, os_ = [], []
    for i in range(n):
        lis.append(li.withColumn(
            "l_orderkey", F.col("l_orderkey") + i * shift))
        os_.append(o.withColumn(
            "o_orderkey", F.col("o_orderkey") + i * shift)
            .withColumn("o_custkey", F.col("o_custkey")))
    big_li, big_o = lis[0], os_[0]
    for r in lis[1:]:
        big_li = big_li.unionByName(r)
    for r in os_[1:]:
        big_o = big_o.unionByName(r)
    app = spark.sparkContext.applicationId
    corpus._TABLE_CACHE[(app, tag, "lineitem")] = \
        big_li.repartition(32).localCheckpoint(eager=True)
    corpus._TABLE_CACHE[(app, tag, "orders")] = \
        big_o.repartition(32).localCheckpoint(eager=True)
    for dim in ("customer", "supplier", "part", "nation", "region"):
        corpus._TABLE_CACHE[(app, tag, dim)] = \
            spark.read.parquet(f"{SF_DIR}/{dim}.parquet")


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from sybil_spark import corpus
    from sybil_spark.operators import dedup

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.appName("scale-rehearsal-100x")
             .master(f"local[{cpus}]")
             .config("spark.driver.memory", "16g")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    out = {"sf": SF_DIR, "pipelines": {}}

    # --- minhash 1x / 10x / 100x -----------------------------------
    def run_minhash(df):
        t0 = time.time()
        n = dedup.minhash_dedup_pairs(df, "doc_id", "text").count()
        return round(time.time() - t0, 2), n

    frames = {}
    for n in (1, 10, 100):
        frames[n] = _replicate_docs(spark, F, n)
    run_minhash(frames[1])  # warm codegen/JIT once
    mh = {}
    for n in (1, 10, 100):
        t, pairs = run_minhash(frames[n])
        mh[f"t_{n}x_s"] = t
        mh[f"pairs_{n}x"] = pairs
        frames[n].unpersist()
    mh["growth_10x"] = round(mh["t_10x_s"] / mh["t_1x_s"], 2)
    mh["growth_100x"] = round(mh["t_100x_s"] / mh["t_1x_s"], 2)
    out["pipelines"]["minhash_lsh"] = mh

    # --- tfidf_terms 1x/10x/100x: rescan vs persisted tf -----------
    # the steepest 10x curve of r5 (4.74x) — measure BOTH sides of
    # the materialize-vs-rescan decision (quality.tfidf_top_terms
    # docstring) at 100x so the default is justified by data
    from sybil_spark.operators import quality

    def run_tfidf(df, persist):
        from sybil_spark.operators._util import cache_scope
        gate = quality.TFIDF_PERSIST_BYTES
        # pin one side of the size gate: every input persists at -1,
        # none at +inf
        quality.TFIDF_PERSIST_BYTES = -1 if persist else float("inf")
        t0 = time.time()
        try:
            with cache_scope():   # release the persisted tf per run
                quality.tfidf_top_terms(df, "doc_id", "text",
                                        k=5).count()
        finally:
            quality.TFIDF_PERSIST_BYTES = gate
        el = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        return el

    frames = {n: _replicate_docs(spark, F, n) for n in (1, 10, 100)}
    run_tfidf(frames[1], False)   # warm
    tq = {}
    for persist, name in ((False, "rescan"), (True, "persist")):
        for n in (1, 10, 100):
            tq[f"t_{name}_{n}x_s"] = run_tfidf(frames[n], persist)
        tq[f"growth_{name}_100x"] = round(
            tq[f"t_{name}_100x_s"] / tq[f"t_{name}_1x_s"], 2)
    for f in frames.values():
        f.unpersist()
    out["pipelines"]["tfidf_terms"] = tq

    # --- span_dedup 1x/10x/100x (text-keyed window plan) ------------
    def run_span(df):
        # NOT .count(): a bare count lets Catalyst prune the
        # reassembly; summing n_kept + rebuilt-text length forces the
        # full dedup machinery
        t0 = time.time()
        (dedup.span_dedup(df, "doc_id", "text", span_words=5)
              .agg(F.sum("n_kept"),
                   F.sum(F.length("dedup_text"))).collect())
        return round(time.time() - t0, 2)

    frames = {n: _replicate_docs(spark, F, n) for n in (1, 10, 100)}
    run_span(frames[1])   # warm
    sp = {}
    for n in (1, 10, 100):
        sp[f"t_text_{n}x_s"] = run_span(frames[n])
    sp["growth_text_100x"] = round(sp["t_text_100x_s"] / sp["t_text_1x_s"], 2)
    for f in frames.values():
        f.unpersist()
    out["pipelines"]["span_dedup"] = sp

    # --- exact_substr 1x/10x/100x (text-keyed window plan) ----------
    # the unaligned policy's window volume is window_words x the
    # aligned leg's: the heaviest candidate generator in the package
    def run_exsub(df):
        # NOT .count(): the output's cardinality is determined by the
        # doc-id dropDuplicates alone, so Catalyst ELIMINATES the
        # left join to the aggregated dup-position frame (unique join
        # key) and a count measures none of the window machinery.
        # Summing n_kept + the rebuilt text length forces the full
        # pipeline.
        t0 = time.time()
        (dedup.exact_substr_dedup(df, "doc_id", "text", window_words=8)
              .agg(F.sum("n_kept"),
                   F.sum(F.length("dedup_text"))).collect())
        return round(time.time() - t0, 2)

    frames = {n: _replicate_docs(spark, F, n) for n in (1, 10, 100)}
    run_exsub(frames[1])   # warm
    ex = {}
    for n in (1, 10, 100):
        ex[f"t_text_{n}x_s"] = run_exsub(frames[n])
    ex["growth_text_100x"] = round(ex["t_text_100x_s"] / ex["t_text_1x_s"], 2)
    for f in frames.values():
        f.unpersist()
    out["pipelines"]["exact_substr"] = ex

    # --- TPC-H q1/q3 1x / 10x (Catalyst path) ----------------------
    _replicate_tpch(spark, F, corpus, 1, "tpch1x")
    _replicate_tpch(spark, F, corpus, 10, "tpch10x")
    for q in ("tpch_q1", "tpch_q3"):
        fn = corpus.QUERIES[q]
        fn(spark, "tpch1x").collect()  # warm
        t0 = time.time()
        fn(spark, "tpch1x").collect()
        t1 = time.time() - t0
        t0 = time.time()
        fn(spark, "tpch10x").collect()
        t10 = time.time() - t0
        out["pipelines"][q] = {
            "t_1x_s": round(t1, 2), "t_10x_s": round(t10, 2),
            "growth_10x": round(t10 / t1, 2)}

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
