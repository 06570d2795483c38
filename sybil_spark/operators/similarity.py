"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — a single narrow projection +
TakeOrderedAndProject, which is exact and embarrassingly parallel
(no shuffle of vectors; each partition computes local top-k and only
k rows per partition reach the driver-side merge).

Scale path: random-hyperplane LSH bucketing — signatures are pure
column math from deterministic per-plane pseudo-vectors, so buckets
reproduce across runs; queries probe only their own bucket (and
optionally neighbors by Hamming-1 multiprobe).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sybil_spark.functions.exact import exact_sum
from sybil_spark.functions.sqltext import double_array, ident, lit_double
from sybil_spark.functions.vectors import (absmax_sql, cosine_to_const,
                                           cosine_to_const_sql, dot_sql,
                                           int8_quantize_sql, norm_sq,
                                           norm_sq_sql)
from sybil_spark.operators._util import spread
from sybil_spark.sources import commit


def brute_force_topk(df: DataFrame, vec_col: str, query: list[float],
                     k: int = 10, id_col: str = "vec_id",
                     sim_col: str = "cos") -> DataFrame:
    """Exact top-k by cosine against one query vector.

    Plan shape: scan → project(cosine) → TakeOrderedAndProject(k).
    No shuffle, no UDF; scales linearly in rows and executors."""
    sim = cosine_to_const(vec_col, query).alias(sim_col)
    return (df.select(F.col(id_col), sim)
              .orderBy(F.desc(sim_col), F.col(id_col).asc())
              .limit(k))


def _plane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane p
    is derived from a splitmix-style integer mix of (p, j), mapped to
    [-1, 1). Stable across runs/machines; no RNG state involved."""
    out = []
    for j in range(dim):
        z = (plane_idx * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        z ^= z >> 31
        z = (z * 0x94D049BB133111EB) & ((1 << 64) - 1)
        z ^= z >> 29
        out.append((z / float(1 << 63)) - 1.0)
    return out


def random_hyperplane_bucket_sql(vec: str, dim: int,
                                 num_planes: int = 8,
                                 plane_offset: int = 0) -> str:
    """SQL twin of random_hyperplane_bucket over a vector fragment."""
    bucket = "CAST(0 AS BIGINT)"
    for p in range(num_planes):
        plane = double_array(_plane(dim, plane_offset + p))
        bucket = (f"({bucket} | CASE WHEN (({dot_sql(vec, plane)}) > 0) "
                  f"THEN shiftleft(CAST(1 AS BIGINT), {p}) ELSE 0 END)")
    return bucket


def random_hyperplane_bucket(vec_col: str, dim: int,
                             num_planes: int = 8,
                             plane_offset: int = 0) -> Column:
    """LSH bucket id in [0, 2^num_planes): bit p = sign(vec · plane_p).

    All dot products are JVM fold expressions over literal plane
    arrays — one pass per plane, no Python. `plane_offset` selects an
    independent plane family (planes plane_offset..plane_offset+n-1),
    the knob behind OR-amplification: T independent tables use
    offsets 0, n, 2n, ... so their bucketings are uncorrelated."""
    return F.expr(random_hyperplane_bucket_sql(ident(vec_col), dim,
                                               num_planes, plane_offset))


def lsh_topk(df: DataFrame, vec_col: str, query: list[float], k: int = 10,
             id_col: str = "vec_id", num_planes: int = 8,
             dim: int | None = None) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket.

    At 100 TB the table is written bucketed/partitioned by this bucket
    id, so the probe prunes ~(1 - 2^-planes) of the data before any
    cosine is computed (partition pruning on a literal predicate)."""
    dim = dim or len(query)
    qb = 0
    for p in range(num_planes):
        plane = _plane(dim, p)
        if sum(float(a) * b for a, b in zip(query, plane)) > 0:
            qb |= 1 << p
    bucketed = df.withColumn(
        "__bucket", random_hyperplane_bucket(vec_col, dim, num_planes))
    return brute_force_topk(bucketed.where(F.col("__bucket") == qb),
                            vec_col, query, k, id_col)


def ivf_centroids(df: DataFrame, vec_col: str, id_col: str = "vec_id",
                  nlist: int = 16) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: the `nlist` vectors
    whose ids hash lowest (xxhash64 order — a uniform pseudo-random
    sample that is stable across runs and cluster sizes, no RNG).

    This is IVF-flat's "train" step without Lloyd iterations — at
    ingest time a real deployment can refine these with k-means
    (pyspark.ml.clustering.KMeans, seeded); retrieval code below is
    identical either way. Only nlist rows reach the driver."""
    rows = (df.select(F.col(id_col), F.col(vec_col))
              .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
              .limit(nlist).collect())
    return [[float(x) for x in r[1]] for r in rows]


def ivf_centroids_kmeans(df: DataFrame, vec_col: str, nlist: int = 16,
                         seed: int = 7, max_iter: int = 10) -> list[list[float]]:
    """IVF coarse quantizer trained with Lloyd iterations
    (pyspark.ml KMeans, k-means|| init, fixed seed) — the quality
    upgrade over the hash-sample centroids of ivf_centroids; the
    retrieval code (ivf_assign / ivf_topk) is identical either way.
    Distributed: each iteration is one pass over the vectors with
    partial aggregation; only k centers reach the driver. Seeded, so
    centers are stable run-to-run on the same data (float reduction
    order can wiggle last ulps — IVF is an approximate structure, and
    assignments are re-scored exactly at query time anyway)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_assign(df: DataFrame, vec_col: str, centroids: list[list[float]],
               cluster_col: str = "cluster") -> DataFrame:
    """Assign each row to its max-cosine centroid (ties → lowest
    centroid index). Pure JVM column math: one fold dot product per
    centroid, argmax via array_max over (sim, -index) structs —
    struct ordering compares fields left-to-right, so equal sims pick
    the smaller index. No shuffle; at ingest the table is then
    *written* partitioned/bucketed by this column."""
    cluster, _ = _ivf_argmax_sql(ident(vec_col), centroids)
    return df.withColumn(cluster_col, F.expr(cluster))


def _ivf_argmax_sql(vec: str, centroids: list[list[float]]
                    ) -> tuple[str, str]:
    """(cluster, cosine) SQL of each row's max-cosine centroid — the
    one argmax ivf_assign and cluster_balance_report share: one fold
    cosine per centroid, array_max over (s, ni = -index) structs,
    whose field-by-field ordering sends equal sims to the smaller
    index."""
    m = "array_max(array(" + ", ".join(
        f"struct({cosine_to_const_sql(vec, c)} AS s, {-i} AS ni)"
        for i, c in enumerate(centroids)) + "))"
    return f"CAST(-(({m}).ni) AS INT)", f"({m}).s"


def ivf_assign_batch(df: DataFrame, vec_col: str,
                     centroids: list[list[float]],
                     cluster_col: str = "cluster") -> DataFrame:
    """ivf_assign via one Arrow-batched numpy matmul per batch
    (argmax of (X @ Cᵀ) / (|x|·|c|), ties → lowest index like
    ivf_assign). ~10x faster than the interpreted fold expressions
    when assigning a whole table at query time; use ivf_assign (pure
    JVM) when the assignment runs once at ingest and feeds
    partitionBy. Norms divide after the dot product, as in the fold
    and the oracle: normalizing first can break an exact tie."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cols = df.columns
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, {cluster_col} int"

    def gen(batches):
        for pdf in batches:
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0] = 1.0
            sims = (X @ C.T) / (n * cn)
            pdf = pdf.copy()
            # argmax takes the first (lowest) index on ties — same
            # rule as ivf_assign's struct ordering
            pdf[cluster_col] = sims.argmax(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(gen, schema).select(*cols, cluster_col)


def ivf_topk(df: DataFrame, vec_col: str, query: list[float], k: int = 10,
             id_col: str = "vec_id", nlist: int = 16, nprobe: int = 4,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF approximate top-k: probe only the `nprobe` inverted lists
    whose centroids are nearest the query.

    Scale path: with the table written `partitionBy(cluster)` at
    ingest (ivf_assign), the `cluster IN (probes)` predicate becomes
    partition pruning — the scan touches nprobe/nlist of the data
    before any per-row cosine runs. Recall/latency trade tunes with
    (nlist, nprobe) exactly as in FAISS IVF-flat. Assignment is the
    Arrow-batched numpy matmul (ivf_assign_batch)."""
    cents = centroids or ivf_centroids(df, vec_col, id_col, nlist)
    probes = _rank_probes(cents, query, nprobe)
    assigned = ivf_assign_batch(df, vec_col, cents)
    return brute_force_topk(assigned.where(F.col("cluster").isin(probes)),
                            vec_col, query, k, id_col)


def build_ivf_index(df: DataFrame, vec_col: str, index_path: str,
                    id_col: str = "vec_id", nlist: int = 16,
                    centroids: list[list[float]] | None = None,
                    kmeans: bool = False) -> list[list[float]]:
    """Persist an IVF-flat index: `index_path/vectors/` holds the
    table partitioned by `cluster=N` (max-cosine centroid
    assignment, pure-JVM ivf_assign), `index_path/ivf_meta.json`
    holds the centroids + column names. Returns the centroids.

    This is the 100 TB shape ivf_topk's docstring promises: cluster
    once at build time, then every query's `cluster IN (probes)`
    predicate becomes PARTITION PRUNING — the scan lists only
    nprobe/nlist of the files and never reads, decodes, or scores
    the rest. Re-assigning the whole table per query (what ivf_topk
    does for ad-hoc frames) reads 100% of the data regardless of
    nprobe.

    `kmeans=True` trains the coarse quantizer with seeded Lloyd
    iterations (ivf_centroids_kmeans) instead of the deterministic
    hash-sample; retrieval is identical either way.

    Holds the index path lock across the vectors overwrite + meta
    rewrite, sharing it with ivf_index_add — a rebuild racing a live
    add would otherwise delete the add's committed files or strand
    old-centroid assignments under the new quantizer."""
    import os

    from sybil_spark.sources.locks import path_lock

    cents = centroids if centroids is not None else (
        ivf_centroids_kmeans(df, vec_col, nlist) if kmeans
        else ivf_centroids(df, vec_col, id_col, nlist))
    with path_lock(index_path):
        (ivf_assign(df, vec_col, cents)
            .write.partitionBy("cluster").mode("overwrite")
            .parquet(os.path.join(index_path, "vectors")))
        commit.write_json(
            os.path.join(index_path, "ivf_meta.json"),
            {"vec_col": vec_col, "id_col": id_col,
             "nlist": len(cents), "centroids": cents,
             "base_files": commit.usage(
                 os.path.join(index_path, "vectors"))[0]})
    return cents


def ivf_index_add(df: DataFrame, index_path: str) -> int:
    """Incrementally add vectors to a persisted IVF index: assign
    the new rows to the EXISTING centroids (the quantizer is frozen
    at build time — the standard IVF contract; FAISS's add() does
    the same) and append them into their `cluster=N` partition dirs
    with dynamic partition overwrite OFF (plain append — new files
    beside old ones, readers see either a consistent pre- or
    post-add listing). Returns the number of rows added.

    This is the continuous-corpus path: build once, then each
    ingest batch lands in the probed layout without rewriting the
    table; queries keep their PartitionFilters pruning. When the
    data distribution drifts far from the frozen centroids (the
    recall of unprobed-list exclusion degrades, never the exactness
    of what IS scanned), run `ivf_index_refresh` to re-train the
    quantizer on the current contents. Serializes on the index path
    lock so concurrent adds / a rebuild can't interleave writes.

    Small-files pressure is self-limiting (ivfpq_index_add's
    contract): the add triggers a defrag — inside the same lock hold,
    the whole-dir rewrite ivf_index_refresh also uses
    (_ivf_rewrite_locked) — once files since the last snapshot's
    `base_files` pass `ingest.FILE_DIGEST_THRESHOLD` (the reference's
    256-file threshold, src/lib/table_ingest.go:63-71). The defrag
    keeps the frozen centroids and their assignments (unlike
    ivf_index_refresh) so serving is bit-equal before and after."""
    import os

    from sybil_spark.sources import ingest
    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        meta = commit.read_json(os.path.join(index_path, "ivf_meta.json"))
        out = ivf_assign(df, meta["vec_col"], meta["centroids"])
        from pyspark.sql import Observation
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        (out.write.partitionBy("cluster").mode("append")
            .parquet(os.path.join(index_path, "vectors")))
        n_added = obs.get["n"]
        pressure = (commit.usage(os.path.join(index_path, "vectors"))[0]
                    - int(meta.get("base_files", 0)))
        if pressure > ingest.FILE_DIGEST_THRESHOLD:
            _ivf_rewrite_locked(
                index_path, meta,
                df.sparkSession.read.parquet(
                    os.path.join(index_path, "vectors"))
                .localCheckpoint(eager=True))
        return n_added


def _ivf_rewrite_locked(index_path: str, meta: dict,
                        assigned: DataFrame) -> None:
    """Rewrite an IVF index as one unit, for callers holding the index
    path lock: `assigned` (every vector with its `cluster` under
    meta's centroids, snapshotted so the write never re-reads the dir
    being swapped away) lands as one file set per cluster beside the
    meta, and the whole index dir is swapped in (commit.staged_swap).
    A crash leaves the old vectors with the old meta or the new
    vectors with the new meta, never one without the other."""
    import os

    def write(tmp: str) -> None:
        vecs = os.path.join(tmp, "vectors")
        assigned.write.partitionBy("cluster").parquet(vecs)
        meta["base_files"] = commit.usage(vecs)[0]
        commit.write_json(os.path.join(tmp, "ivf_meta.json"), meta)

    commit.staged_swap(index_path, write)


def ivf_index_refresh(spark, index_path: str,
                      nlist: int | None = None) -> list[list[float]]:
    """Re-train the coarse quantizer on the index's CURRENT contents
    and re-partition the vectors under the new centroids — the
    remedy for quantizer drift after many `ivf_index_add` appends
    (adds assign against the build-time centroids, so as the
    appended distribution drifts, lists imbalance and the recall of
    unprobed-list exclusion degrades; this is FAISS's "retrain the
    index" step expressed as a table rewrite). Returns the new
    centroids.

    Retrain, then rewrite: read the vectors (cluster column dropped),
    train seeded k-means (ivf_centroids_kmeans at its defaults, the
    same trainer as build_ivf_index(kmeans=True)), re-assign with the
    pure-JVM fold, and rewrite the index through the same whole-dir
    staged swap as the add-path defrag (_ivf_rewrite_locked): vectors
    and ivf_meta.json commit at one rename, so a crash mid-refresh
    leaves either the old layout with its centroids or the new one
    with its centroids, never a mix. Serving is unaffected mid-swap:
    a scan that has listed its files reads them regardless of the
    renames.

    Holds the index path lock for the duration, serializing against
    build/add — an add landing mid-refresh would otherwise write
    old-centroid assignments into the new layout (or into the
    renamed-away dir). `nlist=None` keeps the current list count."""
    import os

    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        meta = commit.read_json(os.path.join(index_path, "ivf_meta.json"))
        vec_col = meta["vec_col"]
        # localCheckpoint: the staged write must not re-read the
        # vectors after the swap renames them away, and training +
        # assignment would otherwise scan the parquet twice anyway
        vecs = (spark.read.parquet(os.path.join(index_path, "vectors"))
                .drop("cluster").localCheckpoint(eager=True))
        cents = ivf_centroids_kmeans(vecs, vec_col, nlist or meta["nlist"])
        meta.update({"nlist": len(cents), "centroids": cents})
        _ivf_rewrite_locked(index_path, meta,
                            ivf_assign(vecs, vec_col, cents))
    return cents


def _seq_cos(a: list[float], b: list[float]) -> float:
    """Driver-side sequential-sum cosine — index-order summation, the
    same fold order as the JVM/oracle cosines. ONE definition shared
    by every probe-ranking path (ivf_topk, ivf_index_topk) so the
    ad-hoc and persisted forms can never rank probes differently."""
    num = sum(x * y for x, y in zip(a, b))
    den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
    return num / den if den else 0.0


def _rank_probes(cents: list[list[float]], query: list[float],
                 nprobe: int) -> list[int]:
    """nprobe nearest centroid indices by _seq_cos, ties → lower
    index — the single probe-selection rule."""
    return sorted(range(len(cents)),
                  key=lambda i: (-_seq_cos(query, cents[i]), i))[:nprobe]


def ivf_index_topk(spark, index_path: str, query: list[float],
                   k: int = 10, nprobe: int = 4) -> DataFrame:
    """Query a persisted IVF index (build_ivf_index): rank centroids
    by cosine to the query on the driver (nlist floats — trivial),
    then scan ONLY the `cluster=N` partitions of the nprobe nearest
    lists and exact-score them (brute_force_topk). The cluster
    filter is a partition-directory predicate, so pruning happens at
    file listing — verified by the PartitionFilters plan test."""
    import os

    meta = commit.read_json(os.path.join(index_path, "ivf_meta.json"))
    probes = _rank_probes(meta["centroids"], query, nprobe)
    vecs = (spark.read.parquet(os.path.join(index_path, "vectors"))
                 .where(F.col("cluster").isin(probes)))
    return brute_force_topk(vecs, meta["vec_col"], query, k,
                            meta["id_col"])


#: rows above which un-bucketed all-pairs operators derive an LSH
#: bucket column automatically instead of running O(n²) blocked BLAS.
AUTO_BLOCK_THRESHOLD = 200_000

#: independent hyperplane tables for auto-bucketing (OR-amplified
#: sign-LSH): a pair is a candidate if it co-buckets in ANY table.
#: One table at p planes recalls (1-θ/π)^p of pairs at angle θ —
#: only ~0.34 at cos 0.9 with 7 planes; OR across T tables lifts
#: that to 1-(1-q)^T (~0.81 at T=4). Cost is ×T row replication into
#: the block machinery, the standard LSH recall/cost trade.
DEFAULT_OR_TABLES = 4


def _auto_planes(n_rows: int, block_rows: int) -> int:
    """Hyperplane count sizing buckets to ~4 blocks each: 2^planes ≈
    n/(4·block_rows), clamped to [4, 16] (16..65536 buckets)."""
    return max(4, min(16, (n_rows // (4 * block_rows)).bit_length()))


def _auto_recall(planes: int, tables: int, cos: float = 0.9) -> float:
    """Expected candidate recall of OR-amplified sign-LSH for a pair
    at the given cosine: 1 - (1 - (1-θ/π)^planes)^tables."""
    import math
    q = (1.0 - math.acos(max(-1.0, min(1.0, cos))) / math.pi) ** planes
    return 1.0 - (1.0 - q) ** tables


def _prepare_blocks(df: DataFrame, id_col: str, vec_col: str,
                    block_on: str | None, block_rows: int,
                    n_rows: int | None, n_groups: int | None,
                    auto_block_threshold: int):
    """Shared front-end of the blocked all-pairs operators: a narrow
    (id, vec, grp) frame replicated to its (grp, pa, pb) block-pair
    groups, sized so replication is ⌈group_rows/block_rows⌉ — per
    GROUP, not per table.

    - One count() job runs only when `n_rows` isn't passed, on a
      persisted narrow projection, so the job that sizes the plan also
      materializes the cache the main job reads (callers at scale pass
      n_rows — e.g. from table metadata — and no extra job runs). The
      cache entry is left to Spark's LRU eviction — repeated sizing
      calls in one session reuse it; long-lived sessions can
      `spark.catalog.clearCache()` between pipelines.
    - Un-bucketed inputs above `auto_block_threshold` rows get a
      deterministic hyperplane-LSH `grp` automatically: comparisons
      then happen only within co-bucketed rows. Near-identical vectors
      produce near-identical plane signs, so true near-dup pairs
      co-bucket with high probability; this is the documented
      approximation that makes 100 TB feasible — pass an explicit
      `block_on` (IVF cluster / LSH bucket) to control it.

    Returns (base, pairs) where base = (id, vec, grp) and pairs adds
    (blk, pa, pb)."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        (F.col(block_on) if block_on else F.lit(0)).alias("grp"))
    if n_rows is None:
        base = base.persist()
        n_rows = base.count()
    if block_on is None:
        if n_rows > auto_block_threshold:
            dim = df.select(F.size(F.col(vec_col))).first()[0]
            planes = _auto_planes(n_rows, block_rows)
            base = base.withColumn(
                "grp", random_hyperplane_bucket("vec", dim, planes))
            n_groups = 1 << planes
        else:
            n_groups = 1
    elif n_groups is None:
        n_groups = max(1, base.select("grp").distinct().count())
    nb = max(1, -(-n_rows // (n_groups * block_rows)))
    blocked = spread(base).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(nb)))
    if nb == 1:
        pairs = blocked.select("id", "vec", "grp", "blk",
                               F.lit(0).alias("pa"), F.lit(0).alias("pb"))
        return base, pairs
    pairs = blocked.select(
        "id", "vec", "grp", "blk",
        F.explode(F.array(*[
            F.struct(F.least(F.col("blk"), F.lit(j)).alias("pa"),
                     F.greatest(F.col("blk"), F.lit(j)).alias("pb"))
            for j in range(nb)])).alias("p")).select(
        "id", "vec", "grp", "blk",
        F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
    return base, pairs


def pairwise_topk(df: DataFrame, vec_col: str, id_col: str = "vec_id",
                  k: int = 20, block_rows: int = 2048,
                  margin: int = 32, n_rows: int | None = None,
                  block_on: str | None = None, n_groups: int | None = None,
                  auto_block_threshold: int = AUTO_BLOCK_THRESHOLD
                  ) -> DataFrame:
    """Global top-k most-similar pairs (id_a < id_b) by cosine.

    Scale design — block-matrix all-pairs:
    1. rows are hashed into B = ⌈n/block_rows⌉ blocks; each row is
       replicated to the B block-pairs it participates in (explode),
       so every (i ≤ j) block-pair becomes one applyInPandas group;
    2. inside a group, cosines are one numpy float32 matmul
       (Arrow-batched, ~10⁸ flops per group — the work is dense
       linear algebra, exactly what a Python batch is for); each
       group emits only its local top (k+margin) candidate pairs;
    3. candidates are exactly re-scored with the sequential-fold JVM
       cosine and globally re-sorted — so the FINAL values are
       bit-deterministic (BLAS summation order never leaks into the
       result), and the output matches an exact SQL oracle as long as
       the true k-th and (k+margin)-th cosines aren't within float
       noise of each other.

    Work is O(n²·d / cluster) with perfect parallelism across block
    pairs; no shuffle exceeds (k+margin)·B² candidate rows. Above
    `auto_block_threshold` rows (or with `block_on`), comparisons are
    restricted to co-bucketed rows — see _prepare_blocks; the global
    top-k is then approximate in the usual LSH sense (the top pairs
    are near-identical vectors, which co-bucket with high
    probability)."""
    import pandas as pd

    from sybil_spark.functions.vectors import cosine

    base, pairs = _prepare_blocks(df, id_col, vec_col, block_on,
                                  block_rows, n_rows, n_groups,
                                  auto_block_threshold)

    take = k + margin

    def local_topk(key, pdf):
        import numpy as np
        _grp, pa, pb = key
        va = pdf[pdf.blk == pa]
        vb = pdf[pdf.blk == pb]
        if len(va) == 0 or len(vb) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        # float32 on purpose: these scores only PICK candidates (the
        # JVM fold re-scores exactly); f32 halves the block's memory
        # traffic and SGEMM is 2-4x DGEMM everywhere. The added score
        # noise is absorbed by `margin` extra candidates, same
        # contract as BLAS summation order under f64. Noise grows
        # ~d*eps_f32 (≈1e-5 at d=256, ≈5e-4 at d=4096): at very
        # large d raise `margin` if more than `margin` pairs can sit
        # within that band of the k-th score — a larger margin only
        # adds re-scored candidates, never a wrong result.
        Xa = np.array([np.asarray(v, dtype=np.float32) for v in va.vec])
        Xb = np.array([np.asarray(v, dtype=np.float32) for v in vb.vec])
        Xa /= np.linalg.norm(Xa, axis=1, keepdims=True)
        Xb /= np.linalg.norm(Xb, axis=1, keepdims=True)
        sims = Xa @ Xb.T
        ia = va.id.to_numpy()
        ib = vb.id.to_numpy()
        if pa == pb:
            # diagonal block: upper triangle only (each pair once) —
            # masked in place, no boolean temp / where() copy
            excl = ia[:, None] >= ib[None, :]
            sims[excl] = -np.inf
            n_valid = sims.size - int(excl.sum())
        else:
            n_valid = sims.size
        flat = sims.ravel()
        top = min(take, n_valid)
        if top == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        idx = np.argpartition(flat, -top)[-top:]
        sel_a = ia[idx // sims.shape[1]]
        sel_b = ib[idx % sims.shape[1]]
        return pd.DataFrame({"id_a": np.minimum(sel_a, sel_b),
                             "id_b": np.maximum(sel_a, sel_b)})

    cands = (pairs.groupBy("grp", "pa", "pb")
                  .applyInPandas(local_topk, schema="id_a long, id_b long"))
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (cands.join(va, "id_a").join(vb, "id_b")
                 .select("id_a", "id_b",
                         cosine("vec_a", "vec_b").alias("cos"))
                 .orderBy(F.desc("cos"), F.col("id_a").asc(),
                          F.col("id_b").asc())
                 .limit(k))


def cross_topk(queries: DataFrame, corpus: DataFrame, vec_col: str,
               k: int = 10, q_id_col: str = "vec_id",
               id_col: str = "vec_id", margin: int = 32) -> DataFrame:
    """(q_id, id, cos): exact top-k corpus rows per QUERY-SET row —
    batched retrieval (eval-probe search, hard-negative mining,
    embedding-dedup audits), where running brute_force_topk per
    query would rescan the corpus Q times.

    Scale shape — one corpus scan, queries on the broadcast side:
    1. the query matrix is collected and normalized ONCE
       (Q x d float64 — the documented bound: queries are the small
       side; 100k x 256d is ~200 MB, fine to broadcast; for
       corpus-sized query sets use pairwise_topk or swap roles);
    2. every Arrow batch of the corpus computes X_norm @ Q_normᵀ in
       one numpy matmul and keeps only the local top (k+margin)
       corpus rows PER QUERY — the only data leaving the scan is
       (q_id, id) candidates, never vectors;
    3. candidates are re-scored with the sequential-fold JVM cosine
       (bit-deterministic, oracle-matching — BLAS summation order
       never leaks into results) and a per-query window keeps the
       final k. The re-score joins are broadcast (queries) and a
       co-partitioned candidate-to-corpus equi-join.

    Exactness: per-batch selection orders by (-cos, id) with a
    stable sort, so EXACT cosine ties (identical vectors) always
    keep the lowest ids — the oracle's row_number order — no matter
    how many tie; the margin only has to absorb BLAS float noise
    between NEARLY-equal cosines straddling the take boundary
    (~1e-6 absolute under the f32 candidate matmul), same contract
    as pairwise_topk."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from sybil_spark.functions.vectors import cosine

    q_t = dict(queries.dtypes)[q_id_col]
    c_t = dict(corpus.dtypes)[id_col]
    qrows = queries.select(q_id_col, vec_col).collect()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], schema=f"q_id {q_t}, {id_col} {c_t}, cos double")
    qids = np.array([r[0] for r in qrows])
    # f32 like pairwise_topk: candidate-pick only (JVM fold re-scores
    # exactly); margin absorbs the f32 score noise.
    Q = np.array([np.asarray(r[1], dtype=np.float32) for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    Qn = Q / qn

    take = k + margin

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # sort the batch by id so the STABLE sort below resolves
            # cosine ties by ascending id — the same tie-break as the
            # final window and the SQL oracle. A plain argpartition
            # kept an arbitrary positional subset when more than
            # `take` rows tied (e.g. many identical vectors in a
            # dedup-audit corpus), which could exclude the very ids
            # the oracle's row_number keeps.
            pdf = pdf.sort_values(id_col, kind="mergesort",
                                  ignore_index=True)
            X = np.array([np.asarray(v, dtype=np.float32)
                          for v in pdf[vec_col]])
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0] = 1.0
            sims = (X / n) @ Qn.T                      # (batch, Q)
            t = min(take, sims.shape[0])
            # top-t per query column by (-cos, id asc)
            idx = np.argsort(-sims, axis=0, kind="stable")[:t]  # (t, Q)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame({
                "q_id": np.repeat(qids[None, :], t, axis=0).ravel(),
                id_col: ids[idx].ravel()})

    # (q_id, id) pairs are unique by construction — each corpus row
    # lives in exactly one Arrow batch and the per-column argsort
    # emits distinct row indices — so no dedup shuffle is needed.
    cands = (corpus.select(id_col, vec_col)
                   .mapInPandas(gen, f"q_id {q_t}, {id_col} {c_t}"))
    # re-score against the SAME query rows the candidate pass used:
    # rebuilding the frame from the collected rows (instead of
    # re-evaluating `queries`) makes a nondeterministic query frame
    # (sampled / limit-without-order upstream) safe — the two passes
    # cannot disagree. Q x d is already bounded by the broadcast
    # contract above, so the createDataFrame is the same size class.
    vec_t = queries.schema[vec_col].dataType.simpleString()
    qdf = queries.sparkSession.createDataFrame(
        [(r[0], r[1]) for r in qrows],
        schema=f"q_id {q_t}, __qv {vec_t}")
    rescored = (cands.join(corpus.select(id_col, vec_col), id_col)
                     .join(F.broadcast(qdf), "q_id")
                     .select("q_id", id_col,
                             cosine("__qv", vec_col).alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.col(id_col).asc())
    return (rescored.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") <= k).drop("__rn")
                    .orderBy("q_id", F.desc("cos"), F.col(id_col).asc()))


def cross_topk_ivf(spark, queries: DataFrame, index_path: str,
                   k: int = 10, nprobe: int = 4,
                   q_id_col: str = "vec_id") -> DataFrame:
    """Batched retrieval against a PERSISTED IVF index
    (build_ivf_index): the 100 TB shape of cross_topk. Each query is
    assigned its `nprobe` nearest centroids on the driver (Q x nlist
    float ops), producing a tiny (q_id, cluster) probe frame that
    broadcasts; joining it to the index on `cluster` touches only
    probed partitions — with all queries' probe sets unioned into
    one IN-list partition filter, so the corpus scan reads
    |∪probes|/nlist of the data ONCE for the whole query batch, not
    per query. Scoring is the sequential-fold JVM cosine (exact on
    everything scanned; approximate only in the IVF sense of not
    probing far lists), then a per-query top-k window.

    vs cross_topk: that is exact-over-everything (full corpus scan,
    matmul candidates); this trades recall for scanning only probed
    inverted lists. Equivalence when nprobe == nlist is pinned by
    test_cross_topk_ivf_full_probe."""
    import os

    import numpy as np
    from pyspark.sql import Window

    from sybil_spark.functions.vectors import cosine

    meta = commit.read_json(os.path.join(index_path, "ivf_meta.json"))
    C = np.asarray(meta["centroids"], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    vec_col, id_col = meta["vec_col"], meta["id_col"]
    qrows = queries.select(q_id_col, vec_col).collect()
    probe_rows = []
    for r in qrows:
        q = np.asarray(r[1], dtype=np.float64)
        qn = np.linalg.norm(q)
        sims = Cn @ (q / qn if qn else q)
        # stable nprobe selection: by (-sim, index), ties → lower
        # index. Numpy dot, not _rank_probes' Python fold: per-query
        # ranking over many queries must vectorize, and the two can
        # differ only by last-ulp summation order on a near-exact
        # centroid tie — probe CHOICE is approximate by design (the
        # scanned lists are then scored exactly either way).
        order = sorted(range(len(C)), key=lambda i: (-sims[i], i))
        probe_rows += [(r[0], int(c)) for c in order[:nprobe]]
    probes = spark.createDataFrame(
        probe_rows, schema=f"q_id {dict(queries.dtypes)[q_id_col]}, "
                           "cluster int")
    all_clusters = sorted({c for _, c in probe_rows})
    vecs = (spark.read.parquet(os.path.join(index_path, "vectors"))
                 .where(F.col("cluster").isin(all_clusters)))
    qdf = queries.select(F.col(q_id_col).alias("q_id"),
                         F.col(vec_col).alias("__qv"))
    scored = (vecs.join(F.broadcast(probes), "cluster")
                  .join(F.broadcast(qdf), "q_id")
                  .select("q_id", id_col,
                          cosine("__qv", vec_col).alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") <= k).drop("__rn")
                  .orderBy("q_id", F.desc("cos"), F.col(id_col).asc()))


# ---------------------------------------------------------------------------
# int8 quantization — storage/bandwidth path for embedding columns
# ---------------------------------------------------------------------------

def quantize_int8(df: DataFrame, vec_col: str,
                  id_col: str = "vec_id") -> DataFrame:
    """(id, scale, qvec array<int>): symmetric per-vector int8
    quantization, scale = absmax/127.

    This is the storage/bandwidth leg of a 100 TB embedding pipeline:
    the codes are 4-8x smaller than the float vectors (int8 payload;
    Parquet's int packing takes it the rest of the way), dequantize as
    q_i * scale with max error scale/2, and — because cosine is
    scale-invariant — feed similarity search directly with no
    dequantization at all. Pure JVM higher-order functions; one scan,
    no shuffle, no UDF."""
    v = ident(vec_col)
    return (df.selectExpr(f"{ident(id_col)} AS id",
                          f"({absmax_sql(v)}) / 127.0D AS scale", v)
              .selectExpr("id", "scale",
                          f"{int8_quantize_sql(v, 'scale')} AS qvec"))


def quantized_topk(df: DataFrame, vec_col: str, k: int = 10,
                   id_col: str = "vec_id",
                   query_id: int = 0) -> DataFrame:
    """Exact top-k by cosine over int8-quantized vectors.

    Same plan shape as brute_force_topk — scan → project(cosine) →
    TakeOrderedAndProject — but each row touches 64 ints instead of 64
    doubles, and the constant query-side norm is folded into one
    literal (cosine_to_const) rather than re-folded per row. Because
    every code product/partial sum is an integer < 2^53, the dot and
    row-norm doubles are exact — and the driver-side math.sqrt of the
    exact integer query norm is the same IEEE sqrt any engine
    computes — so the cosines are bit-identical across engines and
    partitionings. The query vector is quantized by the same rule and
    collected driver-side (one row — same pattern as ivf's centroid
    fetch)."""
    q = quantize_int8(df, vec_col, id_col)
    qrow = q.where(F.col("id") == query_id).select("qvec").first()
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found")
    return (q.select(F.col("id").alias(id_col),
                     cosine_to_const("qvec",
                                     [float(c) for c in qrow[0]])
                     .alias("qcos"))
             .orderBy(F.desc("qcos"), F.col(id_col).asc())
             .limit(k))


def _rrf_fuse(lex: DataFrame, semr: DataFrame, id_col: str,
              k: int, c: int) -> DataFrame:
    """THE reciprocal-rank fusion tail, shared by hybrid_topk and
    hybrid_index_topk so the pinned ad-hoc == index-served
    equivalence cannot drift: full-outer join of the (q_id, id,
    lex_rank) and (q_id, id, sem_rank) leg frames, rrf = fixed
    two-operand IEEE sum of 1/(c+rank) (missing leg contributes 0),
    top-k per query by (rrf desc, id asc)."""
    from pyspark.sql import Window

    fused = (lex.join(semr, ["q_id", id_col], "full_outer")
             .withColumn(
                 "rrf",
                 F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("lex_rank")),
                            F.lit(0.0))
                 + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("sem_rank")),
                              F.lit(0.0))))
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf"),
                                           F.col(id_col).asc())
    return (fused.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("q_id", id_col, "rrf", "lex_rank", "sem_rank",
                         "rank"))


def hybrid_topk(corpus: DataFrame, queries: DataFrame,
                id_col: str, text_col: str, vec_col: str,
                q_id_col: str = "q_id", q_text_col: str = "q_text",
                q_vec_col: str = "q_vec",
                k: int = 10, k_lex: int | None = None,
                k_sem: int | None = None, c: int = 60,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.
    2009) of a lexical BM25 leg and a dense cosine leg — the standard
    two-tower first stage of retrieval-augmented pipelines and
    corpus-curation audits (a contamination probe phrased as text OR
    as an embedding should find the same neighborhood; RRF surfaces
    docs either leg ranks highly without score calibration).

    Per query row (q_id_col, q_text_col, q_vec_col):
    rrf = sum over legs of 1/(c + rank), rank 1-based within the
    leg's top-k_lex / top-k_sem (quality.bm25_topk and cross_topk —
    both already exact and scale-shaped); docs absent from a leg
    contribute 0. Output (q_id, id_col, rrf, lex_rank, sem_rank,
    rank), rank 1..k per query by (rrf desc, id asc).

    Exactness: each leg's rank is oracle-exact (BM25's decimal-
    quantized term sums; the sequential-fold JVM cosine), and the
    fused score is the fixed two-operand IEEE sum of 1.0/(c+rank)
    divisions of exact integers — bit-identical in any engine, so
    the fusion needs no decimal quantization of its own.

    Scale: the corpus is scanned once per modality (tokenized for
    BM25, vectors for the matmul candidate pass — different columns,
    unavoidable); fusion itself joins two narrow (q_id, id, rank)
    frames of at most Q x k_lex and Q x k_sem rows — a full-outer
    equi-join on the pair key, trivially partitioned at any scale."""
    from pyspark.sql import Window

    from sybil_spark.operators.quality import bm25_topk

    k_lex = k if k_lex is None else k_lex
    k_sem = k if k_sem is None else k_sem
    lex_out = bm25_topk(corpus, id_col, text_col,
                        queries.select(q_id_col, q_text_col),
                        q_id_col=q_id_col, q_text_col=q_text_col,
                        k=k_lex, k1=k1, b=b)
    lex = lex_out.select(F.col("q_id"), F.col(id_col),
                         F.col("rank").alias("lex_rank"))
    sem = cross_topk(
        queries.select(F.col(q_id_col), F.col(q_vec_col).alias(vec_col)),
        corpus.select(id_col, vec_col), vec_col,
        k=k_sem, q_id_col=q_id_col, id_col=id_col)
    w_sem = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                               F.col(id_col).asc())
    semr = (sem.withColumn("sem_rank", F.row_number().over(w_sem))
               .select("q_id", id_col, "sem_rank"))
    # bm25_topk's auto-persisted tf (if any) registers itself into
    # the caller's ambient _util.cache_scope — no attribute
    # propagation needed here anymore
    return _rrf_fuse(lex, semr, id_col, k, c)


def hybrid_index_topk(spark, bm25_index_path: str, ivf_index_path: str,
                      queries: list[tuple], k: int = 10,
                      k_lex: int | None = None,
                      k_sem: int | None = None, nprobe: int = 4,
                      c: int = 60, k1: float = 1.2,
                      b: float = 0.75) -> DataFrame:
    """Hybrid retrieval served ENTIRELY from the two persisted
    indexes — the build-once/serve-many form of hybrid_topk: the
    lexical leg reads only the query-token buckets of the BM25
    postings (quality.bm25_index_topk, PartitionFilters), the dense
    leg reads only the probed inverted lists of the IVF index
    (cross_topk_ivf, one unioned partition filter for the whole
    batch), and reciprocal-rank fusion joins the two Q x k rank
    frames. NO full-corpus scan exists anywhere in the plan — this
    is the serving path a 100 TB corpus actually runs.

    `queries` is a driver-side list of (q_id, q_text, q_vec) — the
    same smallness contract as both legs' probe selection. The
    dense leg is IVF-approximate (unprobed lists unseen; raise
    nprobe toward nlist for exactness); given each leg's ranks the
    fusion itself is exact (fixed two-operand IEEE sum, as
    hybrid_topk). Output matches hybrid_topk: (q_id, id, rrf,
    lex_rank, sem_rank, rank)."""
    import os

    from pyspark.sql import Window

    from sybil_spark.operators.quality import bm25_index_topk

    k_lex = k if k_lex is None else k_lex
    k_sem = k if k_sem is None else k_sem
    imeta = commit.read_json(os.path.join(ivf_index_path, "ivf_meta.json"))
    from sybil_spark.operators.quality import _bm25_meta
    bmeta = _bm25_meta(bm25_index_path)
    id_col = imeta["id_col"]
    # the two indexes may carry different id column names for the
    # same id domain — normalize the lexical leg to the IVF name
    lex = (bm25_index_topk(spark, bm25_index_path,
                           [(q, t) for q, t, _ in queries],
                           k=k_lex, k1=k1, b=b)
           .select("q_id",
                   F.col(bmeta["id_col"]).alias(id_col),
                   F.col("rank").alias("lex_rank")))
    q_id_t = ("string" if queries and isinstance(queries[0][0], str)
              else "long")
    qdf = spark.createDataFrame(
        [(q, v) for q, _, v in queries],
        schema=f"__qid {q_id_t}, {imeta['vec_col']} array<double>")
    sem = cross_topk_ivf(spark, qdf, ivf_index_path, k=k_sem,
                         nprobe=nprobe, q_id_col="__qid")
    w_sem = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                               F.col(id_col).asc())
    semr = (sem.withColumn("sem_rank", F.row_number().over(w_sem))
               .select("q_id", id_col, "sem_rank"))
    return _rrf_fuse(lex, semr, id_col, k, c)


# ---------------------------------------------------------------------------
# product quantization (Jegou et al. 2011) — compressed ANN serving
# ---------------------------------------------------------------------------

def _l2sq_sql(a: str, c: list[float]) -> str:
    """L2² of an array SQL fragment against a constant codeword,
    written in DOT-PRODUCT FORM — dot(a,a) - 2·dot(a,c) + dot(c,c),
    each dot a sequential index-order fold — so the value is
    bit-identical to oracle SQL composing list_dot_product the same
    way (the vectors.py contract). The c·c term is a Python-summed
    literal: same doubles, same left-to-right order."""
    cc = 0.0
    for x in c:
        cc = cc + float(x) * float(x)
    return (f"(({norm_sq_sql(a)}) - (2.0D * ({dot_sql(a, double_array(c))})))"
            f" + {lit_double(cc)}")


def _l2sq_py(a: list[float], c: list[float]) -> float:
    """Driver-side twin of _l2sq_sql (ADC lookup tables): identical
    dot-form arithmetic, identical fold order."""
    aa = 0.0
    ac = 0.0
    cc = 0.0
    for x, y in zip(a, c):
        aa = aa + float(x) * float(x)
        ac = ac + float(x) * float(y)
        cc = cc + float(y) * float(y)
    return aa - 2.0 * ac + cc


def pq_codebooks(df: DataFrame, vec_col: str, id_col: str = "vec_id",
                 m: int = 4, k: int = 8) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the `k` hash-
    sampled vectors' s-th slices are subspace s's codewords — the
    same replicable-sample stance as ivf_centroids (a k-means-per-
    subspace trainer would compress better but is not SQL-
    replicable; callers can pass their own trained codebooks to
    pq_encode/pq_topk). Returns codebooks[s][j] = the j-th codeword
    of subspace s (d/m floats). Requires dim % m == 0."""
    rows = (df.select(vec_col, F.col(id_col).alias("__id"))
              .orderBy(F.xxhash64(F.col(id_col)).asc(),
                       F.col(id_col).asc())
              .limit(k).collect())
    if not rows:
        raise ValueError("pq_codebooks: empty input")
    d = len(rows[0][0])
    if d % m:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    sub = d // m
    return [[[float(x) for x in r[0][s * sub:(s + 1) * sub]]
             for r in rows] for s in range(m)]


def pq_encode(df: DataFrame, vec_col: str,
              codebooks: list[list[list[float]]],
              code_col: str = "pq_code") -> DataFrame:
    """Encode vectors to PQ codes: code[s] = argmin_j L2²(v_s, c_sj)
    (ties → lowest j, the struct-min rule shared with ivf_assign).
    Output adds `code_col` array<int> of length m — m·log2(k) bits
    of payload replacing d floats (d=64, m=4, k=8 → 12 bits vs
    256 bytes): the memory shape that lets a 100 TB vector corpus
    serve from RAM. Pure JVM fold expressions, no UDF, no
    shuffle."""
    codes = []
    for s, cb in enumerate(codebooks):
        sub = len(cb[0])
        sl = f"slice({ident(vec_col)}, {s * sub + 1}, {sub})"
        dists = ", ".join(f"struct({_l2sq_sql(sl, c)} AS d, {j} AS j)"
                          for j, c in enumerate(cb))
        codes.append(f"(array_min(array({dists}))).j")
    return df.withColumn(code_col, F.expr(f"array({', '.join(codes)})"))


def pq_topk(df_codes: DataFrame, query: list[float],
            codebooks: list[list[list[float]]], k: int = 10,
            id_col: str = "vec_id", code_col: str = "pq_code",
            dist_col: str = "pq_dist") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the m×k lookup
    table LUT[s][j] = L2²(q_s, c_sj) is computed on the driver
    (m·k doubles — trivial) and folded into the plan as array
    literals, so the per-row distance is m element_at lookups and
    m-1 additions — NO vector arithmetic touches the scan, the whole
    point of PQ serving. dist = Σ_s LUT[s][code_s] in ascending-s
    left-associated order (the oracle writes the same chain);
    ranking ties break by id ascending. Returns (id_col, dist_col)
    rows, smallest distance first.

    Approximate by construction (quantization error), exact given
    the codes — the same contract as ivf_topk's probed recall."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query) != m * sub:
        raise ValueError("pq_topk: query dim != m * sub")
    dist = None
    for s, cb in enumerate(codebooks):
        qs = [float(x) for x in query[s * sub:(s + 1) * sub]]
        lut = double_array([_l2sq_py(qs, c) for c in cb])
        term = f"element_at({lut}, element_at({ident(code_col)}, {s + 1}) + 1)"
        dist = term if dist is None else f"({dist} + {term})"
    return (df_codes.withColumn(dist_col, F.expr(dist))
            .select(id_col, dist_col)
            .orderBy(F.asc(dist_col), F.asc(id_col))
            .limit(k))


def pq_codebooks_kmeans(df: DataFrame, vec_col: str,
                        id_col: str = "vec_id", m: int = 4, k: int = 8,
                        max_iter: int = 2,
                        sample_n: int | None = None,
                        init: list[list[list[float]]] | None = None
                        ) -> list[list[list[float]]]:
    """Trained product-quantization codebooks: per-subspace Lloyd
    iterations, the compression upgrade over pq_codebooks' hash-
    sampled codewords (mirrors ivf_centroids_kmeans for the coarse
    quantizer; FAISS trains its PQ the same way). Fully
    deterministic AND SQL-replicable, unlike pyspark.ml KMeans:

    - assignment IS pq_encode (dot-form L2², ties -> lowest j), the
      argmin the oracle already replicates;
    - each new codeword dimension is an ORDER-INDEPENDENT
      decimal(38,6) sum rendered through varchar->double, divided
      by the exact count in one IEEE double op — so a fixed
      max_iter unrolls to oracle CTEs bit-exactly (the corpus row's
      contract);
    - empty clusters keep their previous codeword.

    All m subspaces train in ONE job per iteration: encode, explode
    to (s, j, subvector), a single (s, j) groupBy whose partial
    aggregation happens map-side; only m·k mean rows reach the
    driver per round. `sample_n` bounds the training set with the
    deterministic hash-order sample (FAISS-style train-on-sample —
    the 100 TB path: the fitted codebooks are frozen artifacts, so
    training never needs the full corpus)."""
    if init is None:
        init = pq_codebooks(df, vec_col, id_col, m=m, k=k)
    cbs = [[list(map(float, cw)) for cw in row] for row in init]
    sub = len(cbs[0][0])
    if sample_n is not None:
        df = (df.orderBy(F.xxhash64(F.col(id_col)).asc(),
                         F.col(id_col).asc())
                .limit(sample_n)
                .localCheckpoint())
    df = df.select(id_col, vec_col)
    for _ in range(max_iter):
        enc = pq_encode(df, vec_col, cbs)
        parts = F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.element_at(F.col("pq_code"), s + 1).alias("j"),
                     F.slice(F.col(vec_col), s * sub + 1, sub)
                      .alias("v"))
            for s in range(m)])
        ex = (enc.select(F.explode(parts).alias("p"))
                 .select("p.s", "p.j", "p.v"))
        aggs = [exact_sum(f"element_at(v, {i + 1})")
                 .cast("string").cast("double").alias(f"d{i}")
                for i in range(sub)]
        aggs.append(F.count(F.lit(1)).alias("n"))
        got = {(r["s"], r["j"]): r
               for r in ex.groupBy("s", "j").agg(*aggs).collect()}
        cbs = [[([got[(s, j)][f"d{i}"] / got[(s, j)]["n"]
                  for i in range(sub)]
                 if (s, j) in got else cbs[s][j])
                for j in range(k)]
               for s in range(m)]
    return cbs


def build_ivfpq_index(df: DataFrame, vec_col: str, index_path: str,
                      id_col: str = "vec_id", nlist: int = 16,
                      m: int = 4, kcb: int = 8,
                      centroids: list[list[float]] | None = None,
                      codebooks: list[list[list[float]]] | None = None,
                      kmeans: bool = False,
                      pq_kmeans: bool = False) -> dict:
    """Persist an IVF-PQ index — the FAISS IVFPQ composition of the
    two persisted ANN forms: rows are assigned to their max-cosine
    coarse list (ivf_assign), PQ-encoded (pq_encode), and written
    partitioned by `cluster=N` carrying ONLY (id, pq_code) — the
    original vectors are NOT stored. Serving combines both scale
    levers: the probe filter prunes IO to nprobe/nlist of the files
    (PartitionFilters), and what IS read is m small ints per row
    scored through an ADC lookup table — no vector ever leaves the
    build. d floats/row become m·log2(kcb) bits (64-dim float32 →
    12 bits at m=4, kcb=8: ~170x), the layout that keeps a 100 TB
    corpus's candidate lists RAM-resident.

    Trains the coarse quantizer (hash-sample or seeded k-means, as
    build_ivf_index) and the subspace codebooks (pq_codebooks, or
    per-subspace Lloyd via pq_codebooks_kmeans when pq_kmeans) when
    not supplied. Holds the index path lock across the overwrite +
    meta rewrite; returns {"centroids", "codebooks"}."""
    import os

    from sybil_spark.sources.locks import path_lock

    cents = centroids if centroids is not None else (
        ivf_centroids_kmeans(df, vec_col, nlist) if kmeans
        else ivf_centroids(df, vec_col, id_col, nlist))
    cbs = codebooks if codebooks is not None else (
        pq_codebooks_kmeans(df, vec_col, id_col, m=m, k=kcb)
        if pq_kmeans else pq_codebooks(df, vec_col, id_col, m=m, k=kcb))
    with path_lock(index_path):
        enc = pq_encode(ivf_assign(df, vec_col, cents), vec_col, cbs)
        (enc.select(id_col, "pq_code", "cluster")
            .write.partitionBy("cluster").mode("overwrite")
            .parquet(os.path.join(index_path, "codes")))
        commit.write_json(
            os.path.join(index_path, "ivfpq_meta.json"),
            {"vec_col": vec_col, "id_col": id_col,
             "nlist": len(cents), "centroids": cents, "codebooks": cbs,
             "base_files": commit.usage(
                 os.path.join(index_path, "codes"))[0]})
    return {"centroids": cents, "codebooks": cbs}


def ivfpq_index_topk(spark, index_path: str, query: list[float],
                     k: int = 10, nprobe: int = 4) -> DataFrame:
    """Query a persisted IVF-PQ index: rank the coarse centroids on
    the driver (_rank_probes — the shared probe rule), scan ONLY the
    `cluster=N` partitions of the nprobe nearest lists (partition-
    directory pruning, like ivf_index_topk), and score the codes via
    pq_topk's ADC lookup table — per row, m element_at lookups and
    m-1 adds. Output (id_col, pq_dist), ascending, ties by id.
    Approximation is two-layer and explicit: probe recall (unprobed
    lists are never scored) x quantization error (distances are to
    the codewords, not the vectors) — the standard IVFPQ trade.

    Serves locklessly, like bm25_index_topk: the only mutations a
    serve can race are (a) a new batch dir appearing (invisible
    until its _count.json lands), and (b) ivfpq_index_compact's
    single whole-dir rename — committed batches are never rewritten
    in place (a replay of a committed batch is a no-op in
    stream_ivfpq_index_add), so there is no window where a listed
    batch's files vanish except the rename itself."""
    import os

    meta = commit.read_json(os.path.join(index_path, "ivfpq_meta.json"))
    probes = _rank_probes(meta["centroids"], query, nprobe)
    codes = (spark.read.parquet(os.path.join(index_path, "codes"))
             .where(F.col("cluster").isin(probes)))
    # merge committed streamed batches (stream_ivfpq_index_add):
    # their cluster=N layout keeps the probe pruning, and — unlike
    # BM25 — PQ distances carry NO corpus-global state (only the
    # frozen quantizers), so a plain union is exact at every point
    cols = [meta["id_col"], "pq_code", "cluster"]
    for _b, bdir in _ivfpq_stream_batches(index_path):
        codes = codes.select(*cols).unionByName(
            spark.read.parquet(bdir)
                 .where(F.col("cluster").isin(probes)).select(*cols))
    return pq_topk(codes, query, meta["codebooks"], k=k,
                   id_col=meta["id_col"])


def _ivfpq_stream_batches(index_path: str) -> list[tuple[str, str]]:
    """(batch id, dir) of the committed streamed batches under
    codes_stream/, in name order. Commit marker = `_count.json`
    written after the parquet (the sidecar-last protocol every
    streamed index leg shares): a dir without it is a torn write —
    invisible to serve and compact, deleted by the next compact."""
    import os

    return commit.pieces(os.path.join(index_path, "codes_stream"),
                         "batch-", "_count.json")


def ivfpq_index_compact(spark, index_path: str) -> int:
    """Fold committed streamed batches into the base codes dir by
    swapping the ENTIRE index dir as one unit (commit.staged_swap,
    the bm25_index_compact protocol): the replacement dir holds the
    merged codes, a meta whose `stream_fold_watermark` is already
    advanced, and NO codes_stream — so fold + watermark + stream-dir
    removal commit at one rename. A crash leaves either the old index (codes +
    pending batches + old meta, still consistent) or the new one,
    never a state where a folded batch survives beside the folded
    codes (double-serve) or a folded batch's watermark advance is
    lost (replay double-append). A lockless concurrent
    ivfpq_index_topk races only the single rename — the same
    accepted window as bm25 serving. Returns the number of batches
    folded (0 = nothing to do). Torn (marker-less) batch dirs are
    dropped with the old dir, not folded."""
    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        return _ivfpq_compact_locked(spark, index_path)


def _ivfpq_compact_locked(spark, index_path: str,
                          force: bool = False) -> int:
    """ivfpq_index_compact's body, for callers already holding the
    index path lock (ivfpq_index_add's auto-compaction runs the
    fold inside its own lock hold). `force` rewrites the codes dir
    even with no pending stream batches — the defrag path for
    small-files pressure from plain appends."""
    import os
    import shutil

    batches = _ivfpq_stream_batches(index_path)
    root = os.path.join(index_path, "codes_stream")
    if not batches and not force:
        if os.path.isdir(root):
            shutil.rmtree(root)   # only torn dirs remain
        return 0
    meta = commit.read_json(os.path.join(index_path, "ivfpq_meta.json"))
    cols = [meta["id_col"], "pq_code", "cluster"]
    base = os.path.join(index_path, "codes")
    merged = spark.read.parquet(base).select(*cols)
    hi = -1
    for b, bdir in batches:
        merged = merged.unionByName(
            spark.read.parquet(bdir).select(*cols))
        hi = max(hi, int(b))
    # snapshot before the swap renames the dirs the plan reads
    merged = merged.localCheckpoint(eager=True)
    meta["stream_fold_watermark"] = max(
        hi, int(meta.get("stream_fold_watermark", -1)))

    def write(tmp: str) -> None:
        codes = os.path.join(tmp, "codes")
        merged.write.partitionBy("cluster").parquet(codes)
        meta["base_files"] = commit.usage(codes)[0]
        commit.write_json(os.path.join(tmp, "ivfpq_meta.json"), meta)

    commit.staged_swap(index_path, write)
    return len(batches)


def ivfpq_index_add(df: DataFrame, index_path: str) -> int:
    """Incrementally add vectors to a persisted IVF-PQ index: assign
    against the FROZEN coarse centroids, encode with the FROZEN
    codebooks (both quantizers freeze at build — FAISS's add()
    contract), and append the (id, pq_code) rows into their
    cluster=N partition dirs. Returns rows added. Distances for the
    appended rows are exactly what a full rebuild with the same
    quantizers would serve (encoding is deterministic); only RECALL
    drifts as the appended distribution leaves the trained
    centroids/codebooks behind — re-train via build_ivfpq_index (or
    adapt ivf_index_refresh) when it does. Path-locked against
    concurrent adds/rebuilds.

    Small-files pressure is self-limiting, like bm25_index_add's:
    every append lands new part-files beside the base codes, and
    the add triggers the compactor — inside the same lock hold,
    force-rewriting the codes dir — once (files since the last
    compact's `base_files` snapshot + committed stream batches)
    passes `ingest.FILE_DIGEST_THRESHOLD` (the reference's 256-file
    threshold). Serving is bit-equal before and after the fold (PQ
    codes carry no corpus-global state)."""
    import os

    from sybil_spark.sources import ingest
    from sybil_spark.sources.locks import path_lock

    with path_lock(index_path):
        meta = commit.read_json(os.path.join(index_path, "ivfpq_meta.json"))
        out = pq_encode(
            ivf_assign(df, meta["vec_col"], meta["centroids"]),
            meta["vec_col"], meta["codebooks"])
        from pyspark.sql import Observation
        obs = Observation()
        out = (out.select(meta["id_col"], "pq_code", "cluster")
                  .observe(obs, F.count(F.lit(1)).alias("n")))
        (out.write.partitionBy("cluster").mode("append")
            .parquet(os.path.join(index_path, "codes")))
        n_added = obs.get["n"]
        pressure = (commit.usage(os.path.join(index_path, "codes"))[0]
                    - int(meta.get("base_files", 0))
                    + len(_ivfpq_stream_batches(index_path)))
        if pressure > ingest.FILE_DIGEST_THRESHOLD:
            _ivfpq_compact_locked(df.sparkSession, index_path,
                                  force=True)
        return n_added


def hard_negatives(queries: DataFrame, corpus: DataFrame, gold: DataFrame,
                   vec_col: str, k: int = 10,
                   q_id_col: str = "vec_id", id_col: str = "vec_id",
                   margin: int = 32) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most similar corpus rows EXCLUDING that query's gold
    positives (`gold` = (q_id, id) pairs). The negatives that sit
    closest to the decision boundary are the ones worth training
    against — random negatives are trivially separable.

    Built on cross_topk (one corpus scan, broadcast query matrix):
    the candidate depth is k + max positives per query — a bounded
    1-row aggregate, same contract as cross_topk's Q×d collect — so
    after the anti-join each query still has >= k survivors; a
    per-query window re-ranks to exactly k. The gold frame
    broadcasts (labeled pairs are minuscule next to the corpus).

    Output: (q_id, id_col, cos, rank) — rank 1..k per query, ties
    (cos desc, id asc), bit-exact against a SQL oracle through
    cross_topk's sequential-fold cosine contract."""
    from pyspark.sql import Window

    g = gold.select(F.col(gold.columns[0]).alias("q_id"),
                    F.col(gold.columns[1]).alias("__gid"))
    gmax = g.groupBy("q_id").agg(F.count(F.lit(1)).alias("c")) \
            .agg(F.max("c").alias("m")).collect()[0]["m"] or 0
    cands = cross_topk(queries, corpus, vec_col, k=k + gmax,
                       q_id_col=q_id_col, id_col=id_col, margin=margin)
    kept = cands.join(
        F.broadcast(g),
        (cands["q_id"] == g["q_id"]) & (cands[id_col] == g["__gid"]),
        "left_anti")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.asc(id_col))
    return (kept.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .orderBy("q_id", "rank"))


def ivf_recall_report(queries: DataFrame, corpus: DataFrame,
                      vec_col: str, centroids: list[list[float]],
                      k: int = 10, nprobe: int = 4,
                      q_id_col: str = "vec_id",
                      id_col: str = "vec_id") -> DataFrame:
    """Measured recall@k of IVF(nprobe) retrieval against exact
    brute force, per query — the ANN twin of dedup.lsh_recall_report
    and the number that decides nprobe before anyone ships an index:
    FAISS-style IVF recall is a property of (nlist, nprobe) AND the
    data's cluster structure, so the honest way to pick the knob is
    to measure it on the corpus, not read it off a paper.

    One corpus scan per side: exact top-k via cross_topk (broadcast
    query matrix), IVF top-k via assignment + a broadcast
    (q_id, cluster) probe frame (the cross_topk_ivf shape without
    requiring a persisted index — tuning runs precede index builds).
    Probe ranking and all cosines use the sequential-fold
    definitions, so both sides — and therefore the report — are
    bit-reproducible by a SQL oracle.

    Output: (q_id, n_hit, recall) with recall = |IVF∩exact| / k.
    At scale the queries frame is an eval probe set (hundreds of
    rows); both retrieval passes stay one-scan each."""
    from pyspark.sql import Window

    spark = corpus.sparkSession
    brute = cross_topk(queries, corpus, vec_col, k=k,
                       q_id_col=q_id_col, id_col=id_col) \
        .select("q_id", F.col(id_col).alias("__bid"))
    qrows = queries.select(q_id_col, vec_col).collect()
    q_t = dict(queries.dtypes)[q_id_col]
    vec_t = queries.schema[vec_col].dataType.simpleString()
    probe_rows = [(r[0], int(c)) for r in qrows
                  for c in _rank_probes(centroids,
                                        [float(x) for x in r[1]],
                                        nprobe)]
    probes = spark.createDataFrame(probe_rows,
                                   schema=f"q_id {q_t}, cluster int")
    qdf = spark.createDataFrame([(r[0], r[1]) for r in qrows],
                                schema=f"q_id {q_t}, __qv {vec_t}")
    from sybil_spark.functions.vectors import cosine
    # sequential-fold assignment (not the numpy batch path): the
    # report IS the oracle-facing artifact, so argmax ties must
    # resolve identically in SQL
    assigned = ivf_assign(corpus.select(id_col, vec_col), vec_col,
                          centroids)
    scored = (assigned.join(F.broadcast(probes), "cluster")
                      .join(F.broadcast(qdf), "q_id")
                      .select("q_id", F.col(id_col).alias("__iid"),
                              cosine("__qv", vec_col).alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.asc("__iid"))
    ivf = (scored.withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") <= k)
                 .select("q_id", "__iid"))
    hits = (brute.join(ivf, (brute["q_id"] == ivf["q_id"])
                       & (brute["__bid"] == ivf["__iid"]))
            .groupBy(brute["q_id"]).agg(F.count(F.lit(1)).alias("n_hit")))
    base = brute.select("q_id").distinct()
    return (base.join(hits, "q_id", "left")
                .select("q_id",
                        F.coalesce(F.col("n_hit"),
                                   F.lit(0).cast("long")).alias("n_hit"))
                .withColumn("recall",
                            F.col("n_hit").cast("double") / F.lit(float(k)))
                .orderBy("q_id"))


def ivf_tune(queries: DataFrame, corpus: DataFrame, vec_col: str,
             centroids: list[list[float]], k: int = 10,
             target_recall: float = 0.9,
             q_id_col: str = "vec_id",
             id_col: str = "vec_id") -> DataFrame:
    """Close the loop ivf_recall_report opens: measure recall@k for
    EVERY nprobe in 1..nlist in one pass and flag the cheapest one
    that meets the target — the auto-tuner that turns 'read nprobe
    off a paper' into 'measured on YOUR corpus'.

    One-scan trick: a corpus row enters the IVF ranking for every
    nprobe >= the rank of its assigned cluster in the query's probe
    order, so the whole per-nprobe grid is ONE explode of that rank
    range over the (query x probed-corpus) cosine frame — the
    corpus is scanned once, not nlist times. All windows partition
    by (q_id, nprobe); `queries` is a bounded eval probe set at
    scale (hundreds of rows), so every exploded/windowed frame is
    eval-sized, never corpus-sized.

    The chosen-flag test is integer-exact on both engines:
    n_hit_total * 1_000_000 >= round(target*1e6) * k * n_queries —
    no float threshold can flip between Spark and the SQL oracle.

    Output: (nprobe, n_hit, recall, chosen) for nprobe 1..nlist,
    ascending; `chosen` marks the smallest nprobe meeting the
    target (all false if none does)."""
    from pyspark.sql import Window

    spark = corpus.sparkSession
    nlist = len(centroids)
    brute = cross_topk(queries, corpus, vec_col, k=k,
                       q_id_col=q_id_col, id_col=id_col) \
        .select("q_id", F.col(id_col).alias("__bid"))
    qrows = queries.select(q_id_col, vec_col).collect()
    nq = len(qrows)
    q_t = dict(queries.dtypes)[q_id_col]
    vec_t = queries.schema[vec_col].dataType.simpleString()
    probe_rows = [(r[0], int(c), rank + 1)
                  for r in qrows
                  for rank, c in enumerate(
                      _rank_probes(centroids,
                                   [float(x) for x in r[1]], nlist))]
    probes = spark.createDataFrame(
        probe_rows, schema=f"q_id {q_t}, cluster int, prank int")
    qdf = spark.createDataFrame([(r[0], r[1]) for r in qrows],
                                schema=f"q_id {q_t}, __qv {vec_t}")
    from sybil_spark.functions.vectors import cosine
    assigned = ivf_assign(corpus.select(id_col, vec_col), vec_col,
                          centroids)
    scored = (assigned.join(F.broadcast(probes), "cluster")
                      .join(F.broadcast(qdf), "q_id")
                      .select("q_id", F.col(id_col).alias("__iid"),
                              "prank",
                              cosine("__qv", vec_col).alias("cos")))
    ex = scored.withColumn(
        "nprobe", F.explode(F.sequence(F.col("prank"),
                                       F.lit(nlist))))
    w = Window.partitionBy("q_id", "nprobe") \
              .orderBy(F.desc("cos"), F.asc("__iid"))
    ivf = (ex.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") <= k)
             .select("q_id", "nprobe", "__iid"))
    hits = (brute.join(ivf, (brute["q_id"] == ivf["q_id"])
                       & (brute["__bid"] == ivf["__iid"]))
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    base = spark.createDataFrame([(p,) for p in range(1, nlist + 1)],
                                 "nprobe int")
    need = round(target_recall * 1_000_000)
    g = (base.join(hits, "nprobe", "left")
             .select("nprobe",
                     F.coalesce(F.col("n_hit"),
                                F.lit(0).cast("long")).alias("n_hit")))
    meets = (F.col("n_hit") * F.lit(1_000_000)
             >= F.lit(need) * F.lit(k) * F.lit(nq))
    wall = Window.orderBy(F.lit(1)) \
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    return (g.withColumn("recall", F.col("n_hit").cast("double")
                         / F.lit(float(k * nq)))
             .withColumn("__best",
                         F.min(F.when(meets, F.col("nprobe")))
                          .over(wall))
             .withColumn("chosen",
                         F.col("nprobe") == F.coalesce(
                             F.col("__best"), F.lit(-1)))
             .drop("__best")
             .orderBy("nprobe"))


def cluster_balance_report(df: DataFrame, vec_col: str,
                           centroids: list[list[float]],
                           cluster_col: str = "cluster") -> DataFrame:
    """Per-cluster size and assignment-quality audit of a coarse
    quantizer: (cluster, n_vecs, min_cos, max_cos) for every cluster
    that won at least one vector.

    This is the skew report that decides whether an IVF index (or a
    partitionBy(cluster) ingest layout) is servable: list-length
    variance IS the tail latency of nprobe-bounded search, and a
    cluster whose min_cos is near the corpus floor is a garbage
    attractor that wants a centroid refresh (ivf_index_refresh).

    Scale shape: ONE corpus scan — the argmax over nlist fold-cosines
    is pure codegen projection (same expression as ivf_assign, plus
    keeping the winning cosine), and the groupBy partial-aggregates
    map-side to at most nlist rows per partition; no shuffle ever
    carries a vector. min/max of IEEE doubles are order-independent,
    so the report is bit-reproducible by a SQL oracle (counts are
    integers; the cosines use the sequential-fold definition)."""
    cluster, cos = _ivf_argmax_sql(ident(vec_col), centroids)
    assigned = df.selectExpr(f"{cluster} AS {ident(cluster_col)}",
                             f"{cos} AS __cos")
    return (assigned.groupBy(cluster_col)
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.min("__cos").alias("min_cos"),
                 F.max("__cos").alias("max_cos"))
            .orderBy(cluster_col))


def norm_outlier_report(df: DataFrame, vec_col: str,
                        id_col: str = "vec_id",
                        z: float = 3.0) -> DataFrame:
    """Embedding-health audit: (id, norm_sq) of every vector whose
    squared L2 norm sits more than `z` population-stddevs from the
    corpus mean — the cheap screen for broken rows an embedding
    pipeline ships at scale (zero vectors from a failed encoder
    call, un-normalized batches mixed into a normalized corpus,
    fp16 blowups).

    Exactness discipline (the package's decimal-moments pattern,
    query/builder.py STDDEV): each row's norm_sq — a deterministic
    sequential fold — quantizes to decimal(38,6) BEFORE aggregating,
    so sum(nq) and sum(nq*nq) are exact and order-independent; the
    mean/variance doubles then derive from those exact decimals via
    an explicit varchar round-trip (parse-based conversion matches
    across engines where direct decimal->double casts may not), and
    the z-test compares doubles produced by the identical expression
    tree in any engine. Variance clamps at zero (greatest) because
    the m2 - mean^2 form can go epsilon-negative under quantization.

    Scale shape: scan #1 partial-aggregates three numbers map-side
    and collects ONE row (the package's bounded-collect pattern for
    global stats — a 1-row crossJoin would plan the
    BroadcastNestedLoopJoin the corpus-wide lint rejects, and a
    literal join key constant-folds back to it); the threshold then
    rides into scan #2's filter as plain literals — a pure map. With
    the corpus cached the two scans share one materialization;
    nothing wide ever shuffles."""
    nq = norm_sq(vec_col).cast("decimal(38,6)")
    e = df.select(F.col(id_col), nq.alias("__nq"))
    mean_c = (F.col("__s1").cast("string").cast("double")
              / F.col("__n").cast("double"))
    m2_c = (F.col("__s2").cast("string").cast("double")
            / F.col("__n").cast("double"))
    st = (e.agg(F.count(F.lit(1)).alias("__n"),
                F.sum("__nq").alias("__s1"),
                F.sum(F.col("__nq") * F.col("__nq")).alias("__s2"))
           .select(F.col("__n"), mean_c.alias("__mean"),
                   F.greatest(m2_c - mean_c * mean_c,
                              F.lit(0.0)).alias("__var"))
           .first())
    if not st["__n"]:
        return e.select(F.col(id_col),
                        F.lit(None).cast("double").alias("norm_sq")) \
                .where(F.lit(False))
    nqd = F.col("__nq").cast("string").cast("double")
    return (e.where(F.abs(nqd - F.lit(st["__mean"]))
                    > F.lit(float(z)) * F.sqrt(F.lit(st["__var"])))
             .select(F.col(id_col), nqd.alias("norm_sq"))
             .orderBy(id_col))
