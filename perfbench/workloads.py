"""The benchmark's two workloads, each a closed loop with one client.

`dashboard` is sybil's own use: interactive aggregations over a
100k-row event table, beside a live table that takes NDJSON batches
(append, digest, fresh read, cached read). `pipeline` is sybil_spark's
extension: heavy corpus operators plus three streaming index legs.
See README.md for why each exists and which layer moves which metric.

A workload runs in rounds. One round is every op of the workload once
(dashboard: in an order drawn from the seed; pipeline: in a fixed
order), so every run measures the same mix.
A read-only dashboard op is issued 1 + REPEATS times back to back (a
refresh): the first execution is its warm-up, counted as set-up time,
and the REPEATS others are measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

import duckdb
import pyarrow.parquet as pq

import datagen
from tracing import median, percentile, uncovered_s

DASHBOARD_QUERIES = [
    "count", "avg", "hist", "time_avg", "group_count", "distinct",
    "time_distinct", "group_avg", "group_avg_limit", "group_hist",
    "regex_avg", "group2_avg", "time_group_avg_limit", "percentiles",
    "weighted_count", "hist_summary", "loghist", "rollup_serve",
]
PIPELINE_OPS = [
    "minhash_lsh", "ngram_jaccard", "simhash_dup", "dedup_clusters",
    "weighted_percentile", "ann_pairs_topk", "embedding_dup",
    "decontaminate", "media_meta", "tpch_q1", "tpch_q3",
]
#: NDJSON rows per dashboard ingest batch (~12 MB). One batch lands
#: ~1.4 MB of parquet, so under the default 2 MB threshold the first
#: ingest of a round never digests and the second (~2.8 MB landed)
#: always does.
INGEST_ROWS = 65_000
SEED_ROWS = 5_000
#: measured executions of each read-only dashboard op per round
REPEATS = 1
#: streaming micro-batch sizes
DOCS_PER_BATCH = 250
VECS_PER_BATCH = 100

_DEC = "decimal(38,6)"


def _dsum(expr: str) -> str:
    return f"cast(cast(sum(cast({expr} as {_DEC})) as varchar) as double)"


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total


def _compare(columns, rows, oracle_df) -> str | None:
    """None when Spark rows equal the DuckDB frame under tools/check.py's
    order-insensitive, dtype-kind-aware comparison; else a reason."""
    import pandas as pd

    from tools.check import normalize, values_equal
    sdf = pd.DataFrame.from_records([tuple(r) for r in rows],
                                    columns=columns)
    scols, skinds, srows = normalize(sdf)
    dcols, dkinds, drows = normalize(oracle_df)
    if scols != dcols:
        return f"columns {scols} vs {dcols}"
    if skinds != dkinds and srows:   # an empty collect has no dtypes
        return f"dtype kinds {skinds} vs {dkinds}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    for i, (a, b) in enumerate(zip(srows, drows)):
        if not all(values_equal(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def warm_workers(spark, cpus: int) -> None:
    """bench.py's worker warm-ups: fork the Python workers through the
    mapInPandas and grouped applyInPandas paths, with one small matmul
    so numpy/BLAS initialise there and not inside a measured op."""
    from pyspark.sql import functions as F

    def _warm_blas(pdf):
        import numpy as np
        X = np.arange(96 * 32, dtype=np.float32).reshape(96, 32)
        (X @ X.T).sum()
        return pdf
    (spark.range(8).repartition(cpus)
          .mapInPandas(lambda it: (pdf for pdf in it), "id long").count())
    (spark.range(256).withColumn("g", F.pmod("id", F.lit(64)))
          .groupBy("g").applyInPandas(_warm_blas, "id long, g bigint").count())


class Workload:
    """Shared op plumbing. Subclasses set `tables` and `oracle_ops` and
    define `order`, `warm`, `run_op`, `check`, `outcome_metrics` and
    `layer_metrics`."""

    tables: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.first_rows: dict[str, tuple] = {}
        self.lat: dict[str, list[float]] = {}
        #: True while a measured execution of a timed round runs
        self.measuring = False

    def close(self) -> None:
        """Stop anything the workload started in the session."""

    def register(self, spark) -> None:
        """Program-side set-up for a fresh session: register every
        table the workload reads (file listing + footer read)."""
        from sybil_spark import corpus as C
        for t in self.tables:
            C._t(spark, self.ctx.data, t).count()
        if "events" in self.tables:
            C._events(spark, self.ctx.data).select("time").limit(1).collect()

    def corpus_op(self, name: str) -> float:
        """Build a corpus query's DataFrame and collect it; the first
        result of each query is kept for the oracle check."""
        from sybil_spark.corpus import QUERIES
        from sybil_spark.operators._util import unpersist_unscoped
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.op(name) as rec:
            rec["kind"] = "query"
            t0 = time.perf_counter()
            with tr.span("query.build"):
                df = QUERIES[name](ctx.spark, ctx.data)
            rec["build_end"] = time.time()
            with tr.span("exec.collect"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        unpersist_unscoped()
        self.first_rows.setdefault(name, (df.columns, rows))
        return dt

    def reps(self, name: str) -> tuple[int, int]:
        """(warm-up, measured) back-to-back executions of op `name`."""
        return 0, 1

    def round(self, order: list[str], timed: bool):
        return self.run_round(order, timed)

    def run_round(self, order: list[str], timed: bool
                  ) -> tuple[list, float, float]:
        """Run every op in `order`. Returns the measured executions
        [(name, seconds, ok)], the round's wall time without warm-up
        executions, and the warm-up executions' time. A failing
        execution is recorded and the loop goes on with the next op."""
        out, warm_s = [], 0.0
        t0 = time.perf_counter()
        for name in order:
            n_warm, n = self.reps(name)
            for i in range(n_warm + n):
                self.measuring = timed and i >= n_warm
                self.ctx.tracer.paused = not self.measuring
                try:
                    dt, ok = self.run_op(name), True
                except Exception as e:  # keep the client alive; count it
                    print(f"# op {name} failed: {type(e).__name__}: {e}",
                          flush=True)
                    dt, ok = 0.0, False
                if i < n_warm and ok:
                    warm_s += dt
                    continue
                if timed and ok:
                    self.lat.setdefault(name, []).append(dt)
                out.append((name, dt, ok))
                if not ok:
                    break
        return out, time.perf_counter() - t0 - warm_s, warm_s

    def start_oracles(self) -> None:
        """Compute every corpus op's DuckDB answer on a background
        thread while Spark starts: the inputs exist before any Spark
        work, and DuckDB releases the GIL while it runs. Only the
        first, untimed session set-up overlaps with it."""
        from sybil_spark.corpus import ORACLES

        def work():
            con = duckdb.connect()
            con.execute("set threads to 2")
            for t in self.tables:
                con.execute(f"create view {t} as select * from "
                            f"'{self.ctx.data}/{t}.parquet'")
            for name in self.oracle_ops:
                try:
                    self.oracles[name] = con.execute(ORACLES[name]).df()
                except duckdb.Error as e:
                    self.oracles[name] = e
        self.oracles: dict = {}
        self._oracle_thread = threading.Thread(target=work, daemon=True)
        self._oracle_thread.start()

    def oracle_failures(self) -> list[str]:
        self._oracle_thread.join()
        bad = []
        for name in self.oracle_ops:
            if name not in self.first_rows:
                continue
            cols, rows = self.first_rows[name]
            want = self.oracles[name]
            why = (f"oracle error: {want}" if isinstance(want, Exception)
                   else _compare(cols, rows, want))
            if why:
                bad.append(f"{name}: {why}")
        return bad

    # -- per-layer metrics shared by both workloads -----------------------
    def exec_metrics(self) -> dict:
        """query.* and exec.* over the traced query ops: times are
        per-op medians, work and byte totals are per-op means."""
        tr = self.ctx.tracer
        qs = [r for r in tr.ops if r.get("kind") == "query"]
        n = max(1, len(qs))

        def mean(k):
            return sum(r[k] for r in qs) / n
        return {
            "query.build_s": median(tr.span_s("query.build")),
            "query.build_jobs": mean("build_jobs"),
            "exec.collect_s": median(tr.span_s("exec.collect")),
            "exec.jobs": sum(r["jobs"] - r["build_jobs"] for r in qs) / n,
            "exec.tasks": mean("tasks"),
            "exec.driver_gap_s": median(
                uncovered_s(r["build_end"], r["end"], r["intervals"])
                for r in qs),
            "exec.task_s": mean("task_s"),
            "exec.cpu_s": mean("cpu_s"),
            "exec.gc_s": mean("gc_s"),
            "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
            "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
            "exec.spill_bytes": mean("spill_bytes"),
            "exec.python_task_s": mean("python_task_s"),
        }


class Dashboard(Workload):
    """Corpus dashboard queries on sf `events`/`lineitem`, interleaved
    with two live-table ingest cycles per round. A cycle is `ingest`
    (append one NDJSON batch with ingest_df, then maybe_digest —
    ingest_json's path split in two), `fresh_query` (a Query over
    Table.read(read_log=True)) and `cached_query` (query_cache.run with
    a time filter whose lower bound advances each cycle, like a sliding
    dashboard window). The round's second ingest always digests."""

    tables = ("events", "lineitem")
    oracle_ops = DASHBOARD_QUERIES

    def __init__(self, ctx):
        super().__init__(ctx)
        from sybil_spark.sources.ingest import IngestSpec
        from sybil_spark.table import Table
        self.table = Table(os.path.join(ctx.work, "db"), "weblogs")
        self.spec = IngestSpec()
        self.nd_dir = os.path.join(ctx.work, "ndjson")
        self.ingested: list[tuple[str, int, int]] = []  # (path, rows, bytes)
        self.digested: list[str] = []
        self.cycle = 0
        self.s = {"append_s": [], "digest_s": [], "read_s": [],
                  "landing_per_byte": [],
                  "plan_s": [], "hits": 0, "blocks": 0, "uncached": [],
                  "rows": 0, "nd_bytes": 0, "written": 0, "digests": 0}
        self.last_fresh = self.last_cached = None

    def _rows(self, at_sf01: int) -> int:
        return max(500, int(at_sf01 * self.ctx.sf / 0.1))

    def _batch(self, i: int, rows: int) -> tuple[str, int, int]:
        path = datagen.ndjson_batch(self.nd_dir, self.ctx.seed, i, rows)
        return path, rows, os.path.getsize(path)

    def reps(self, name: str) -> tuple[int, int]:
        return (0, 1) if name == "ingest" else (1, REPEATS)

    def order(self) -> list[str]:
        """The queries in seeded order, with each ingest cycle's three
        ops at seeded positions but always as ingest, fresh, cached, so
        every run reads and caches the same amount of data."""
        rng = self.ctx.rng
        cycle = ["ingest", "fresh_query", "cached_query"]
        qs = list(rng.permutation(DASHBOARD_QUERIES))
        at = sorted(rng.choice(len(qs) + 6, 6, replace=False))
        for pos, name in zip(at, cycle + cycle):
            qs.insert(pos, name)
        return qs

    def warm(self) -> None:
        """Seed the table with a small batch, force-digested so cached
        queries have blocks from the start; this also warms the ingest
        and digest paths. Queries are not warmed: their first execution
        is their warm-up (see Workload.run_round)."""
        from sybil_spark.sources import compact
        from sybil_spark.sources.ingest import ingest_df
        path, n, nb = self._batch(0, self._rows(SEED_ROWS))
        ingest_df(self.ctx.spark.read.json(path), self.table, self.spec,
                  "time", auto_digest=False)
        compact.digest(self.ctx.spark, self.table)
        self.ingested.append((path, n, nb))
        self.digested = [path]

    def round(self, order, timed):
        """Generate the round's two batches, then run it."""
        n = self.cycle
        self.pending = [self._batch(n + i, self._rows(INGEST_ROWS))
                        for i in (1, 2)]
        return self.run_round(order, timed)

    def run_op(self, name: str) -> float:
        if name == "ingest":
            return self._ingest()
        if name == "fresh_query":
            return self._fresh()
        if name == "cached_query":
            return self._cached()
        return self.corpus_op(name)

    def _ingest(self) -> float:
        from sybil_spark.sources.ingest import ingest_df, maybe_digest
        spark, tr = self.ctx.spark, self.ctx.tracer
        path, n, nb = self.pending.pop(0)
        self.cycle += 1
        land0 = _dir_bytes(self.table.ingest_path)
        blocks0 = _dir_bytes(self.table.blocks_path)
        with tr.op("ingest"):
            t0 = time.perf_counter()
            with tr.span("ingest.append"):
                ingest_df(spark.read.json(path), self.table, self.spec,
                          "time", auto_digest=False)
            t1 = time.perf_counter()
            land1 = _dir_bytes(self.table.ingest_path)
            t1b = time.perf_counter()
            with tr.span("compact.maybe_digest"):
                digested = maybe_digest(spark, self.table)
            t2 = time.perf_counter()
        self.ingested.append((path, n, nb))
        if digested:
            self.digested = [p for p, _, _ in self.ingested]
        if self.measuring:
            s = self.s
            s["append_s"].append(t1 - t0)
            s["landing_per_byte"].append((land1 - land0) / nb)
            s["rows"] += n
            s["nd_bytes"] += nb
            s["written"] += (land1 - land0) + max(
                0, _dir_bytes(self.table.blocks_path) - blocks0)
            if digested:
                s["digests"] += 1
                s["digest_s"].append(t2 - t1b)
        return (t1 - t0) + (t2 - t1b)

    def _fresh(self) -> float:
        from sybil_spark.query.builder import Query
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.op("fresh_query"):
            t0 = time.perf_counter()
            with tr.span("table.read"):
                df = self.table.read(spark, read_log=True)
            t1 = time.perf_counter()
            q = (Query.table(df).exact_mode().group_by("host")
                 .agg("latency", "avg").limit(None).execute(spark))
            rows = q.collect()
            dt = time.perf_counter() - t0
        self.last_fresh = (q.columns, rows,
                           [p for p, _, _ in self.ingested])
        if self.measuring:
            self.s["read_s"].append(t1 - t0)
        return dt

    def _cached(self) -> float:
        from sybil_spark.sources import query_cache as QC
        spark, tr = self.ctx.spark, self.ctx.tracer
        lo = datagen.NDJSON_T0 + 600 * self.cycle
        spec = QC.CacheSpec(group_cols=("host",), num_cols=("latency",),
                            filters=(("int", "ge", "time", lo),))
        cols = ["host", "count", "sum_latency", "min_latency",
                "max_latency"]
        with tr.op("cached_query"):
            t0 = time.perf_counter()
            rows = QC.run(spark, self.table, spec).select(*cols).collect()
            dt = time.perf_counter() - t0
        self.last_cached = (cols, rows, lo, list(self.digested))
        return dt

    def trace_cache_plan(self) -> None:
        """Traced runs only: time query_cache.plan (run() looks it up
        as a module global) and keep the CachePlan it returns."""
        from sybil_spark.sources import query_cache as QC
        real = QC.plan

        def plan(*a, **kw):
            t0 = time.perf_counter()
            p = real(*a, **kw)
            if self.measuring:
                self.s["plan_s"].append(time.perf_counter() - t0)
                self.s["hits"] += len(p.hits)
                self.s["blocks"] += len(p.hits) + len(p.misses) + len(
                    p.uncached)
                self.s["uncached"].append(len(p.uncached))
            return p
        QC.plan = plan

    def check(self) -> list[str]:
        bad = self.oracle_failures()
        want = sum(n for _, n, _ in self.ingested)
        meta_rows = self.table.load_meta().row_count
        got = self.table.read(self.ctx.spark, read_log=True).count()
        if meta_rows != want or got != want:
            bad.append(f"row count: meta {meta_rows}, scan {got}, "
                       f"generated {want}")
        con = duckdb.connect()
        lat = "cast(trunc(latency) as bigint)"

        def nd(paths):
            return "read_json_auto([%s])" % ", ".join(f"'{p}'" for p in paths)
        cols, rows, paths = self.last_fresh
        oracle = con.execute(
            f"select host, count(*) as count, {_dsum(lat)}/count(latency)"
            f" as avg_latency from {nd(paths)} group by 1").df()
        why = _compare(cols, rows, oracle)
        if why:
            bad.append(f"fresh_query: {why}")
        cols, rows, lo, paths = self.last_cached
        oracle = con.execute(
            f"select host, count(*) as count, {_dsum(lat)} as sum_latency,"
            f" min({lat}) as min_latency, max({lat}) as max_latency"
            f" from {nd(paths)} where time >= {lo} group by 1").df()
        why = _compare(cols, rows, oracle)
        if why:
            bad.append(f"cached_query: {why}")
        return bad

    def outcome_metrics(self) -> dict:
        """Ingest outcomes: per-layer metrics in the traced record, and
        printed in the detail line beside the end-to-end ones."""
        s = self.s
        busy = sum(s["append_s"]) + sum(s["digest_s"])
        nd_total = sum(nb for _, _, nb in self.ingested)
        return {
            "ingest.rows_per_s": s["rows"] / busy if busy else 0.0,
            "ingest.fresh_query_p50_s": median(self.lat["fresh_query"]),
            "query_cache.cached_query_p50_s": median(
                self.lat["cached_query"]),
            "ingest.space_amp": _dir_bytes(self.table.path) / nd_total,
        }

    def layer_metrics(self) -> dict:
        s = self.s
        blocks = [os.path.join(dp, f)
                  for dp, _, fs in os.walk(self.table.blocks_path)
                  for f in fs if f.endswith(".parquet")]
        rows = [pq.ParquetFile(b).metadata.num_rows for b in blocks]
        return {
            "table.read_s": median(s["read_s"]),
            "ingest.append_s": median(s["append_s"]),
            "ingest.landing_bytes": median(s["landing_per_byte"]),
            "compact.digest_s": median(s["digest_s"]),
            "compact.digests": s["digests"],
            "compact.rows_per_block": sum(rows) / len(rows) if rows else 0.0,
            "compact.write_amp": (s["written"] / s["nd_bytes"]
                                  if s["nd_bytes"] else 0.0),
            "query_cache.plan_s": median(s["plan_s"]),
            "query_cache.hit_ratio": (s["hits"] / s["blocks"]
                                      if s["blocks"] else 0.0),
            "query_cache.uncached": median(s["uncached"]),
        }


class Streams:
    """Three streaming.ingest_stream legs fed by file drops:
    near-dup text dedup against a MinHash band index, embedding dedup
    against an LSH bucket index, and IVF-PQ index add. Each leg's index
    is bootstrapped from the first half of documents/embeddings; the
    second half arrives in micro-batches. A tick drops one file on every
    leg, then waits on each leg's processAllAvailable(), so the three
    queries process their batches side by side, as in one session
    serving several streams."""

    LEGS = ("near_dedup", "embedding_dedup", "ivfpq_add")

    def __init__(self, ctx):
        self.ctx = ctx
        docs = pq.read_table(f"{ctx.data}/documents.parquet",
                             columns=["doc_id", "text"]).to_pylist()
        embs = pq.read_table(f"{ctx.data}/embeddings.parquet",
                             columns=["vec_id", "embedding"]).to_pylist()
        self.doc_hist, self.doc_rest = docs[:len(docs) // 2], docs[len(docs) // 2:]
        self.emb_hist, self.emb_rest = embs[:len(embs) // 2], embs[len(embs) // 2:]
        # at most this size per batch, so every leg has ten batches
        self.doc_bs = min(DOCS_PER_BATCH, len(self.doc_rest) // 10)
        self.emb_bs = min(VECS_PER_BATCH, len(self.emb_rest) // 10)
        self.root = os.path.join(ctx.work, "streams")
        self.q: dict = {}
        self.fed: dict[str, list[int]] = {leg: [] for leg in self.LEGS}
        self.drops = {leg: 0 for leg in self.LEGS}
        self.ticks = 0
        self.batch_s: dict[str, list[float]] = {leg: [] for leg in self.LEGS}
        self.progress: list[dict] = []
        self.jobs: list[int] = []

    def _dir(self, leg, sub):
        return os.path.join(self.root, leg, sub)

    def _drop(self, leg: str, rows: list[dict], tag: str) -> None:
        src = self._dir(leg, "in")
        tmp = os.path.join(src, f".{tag}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, os.path.join(src, f"{tag}.json"))
        key = "doc_id" if leg == "near_dedup" else "vec_id"
        self.fed[leg].extend(r[key] for r in rows)
        self.drops[leg] += 1

    def _feed(self, i: int) -> dict[str, list[dict]]:
        docs = self.doc_rest[i * self.doc_bs:(i + 1) * self.doc_bs]
        vecs = self.emb_rest[i * self.emb_bs:(i + 1) * self.emb_bs]
        if not docs or not vecs:
            raise RuntimeError("stream input exhausted; run fewer rounds")
        return {"near_dedup": docs, "embedding_dedup": vecs,
                "ivfpq_add": vecs}

    def start(self, also=None) -> None:
        """Bootstrap each leg's index, start its query and process one
        warm-up batch — the three legs (and `also`, if given) in
        parallel threads. The embedding leg builds its own index, so
        its warm-up batch is the historical half."""
        from concurrent.futures import ThreadPoolExecutor

        from sybil_spark.operators import similarity
        from sybil_spark.streaming import ingest_stream as IS
        spark = self.ctx.spark
        dsch = "doc_id long, text string"
        esch = "vec_id long, embedding array<double>"
        warm = self._feed(0)
        self.ticks = 1   # slice 0 is the warm-up of near_dedup/ivfpq_add

        def vec_rows(rows):
            return [(r["vec_id"], [float(x) for x in r["embedding"]])
                    for r in rows]

        def near():
            IS.bootstrap_minhash_band_index(
                spark.createDataFrame([(r["doc_id"], r["text"])
                                       for r in self.doc_hist], dsch),
                "doc_id", "text", self._dir("near_dedup", "idx"))
            return IS.stream_near_dedup_against_index(
                spark.readStream.schema(dsch).json(self._dir("near_dedup", "in")),
                "doc_id", "text", self._dir("near_dedup", "out"),
                self._dir("near_dedup", "idx")), warm["near_dedup"]

        def emb():
            return IS.stream_embedding_dedup_against_index(
                spark.readStream.schema(esch).json(
                    self._dir("embedding_dedup", "in")),
                "vec_id", "embedding", dim=datagen.EMB_DIM,
                out_path=self._dir("embedding_dedup", "out"),
                index_path=self._dir("embedding_dedup", "idx"),
                threshold=0.95), self.emb_hist

        def ivf():
            similarity.build_ivfpq_index(
                spark.createDataFrame(vec_rows(self.emb_hist), esch),
                "embedding", self._dir("ivfpq_add", "idx"))
            return IS.stream_ivfpq_index_add(
                spark.readStream.schema(esch).json(self._dir("ivfpq_add", "in")),
                self._dir("ivfpq_add", "idx")), warm["ivfpq_add"]

        def leg_up(leg, boot):
            os.makedirs(self._dir(leg, "in"))
            q, rows = boot()
            self.q[leg] = q
            self._drop(leg, rows, "warm")
            q.processAllAvailable()

        with ThreadPoolExecutor(len(self.LEGS) + 1) as pool:
            futs = [pool.submit(leg_up, leg, boot) for leg, boot in
                    zip(self.LEGS, (near, emb, ivf))]
            if also is not None:
                futs.append(pool.submit(also))
            for f in futs:
                f.result()

    def tick(self) -> float:
        """Drop one micro-batch per leg and wait for all three."""
        i = self.ticks
        self.ticks += 1
        feeds = self._feed(i)
        tr = self.ctx.tracer
        jobs0 = {leg: self._jobs(q) for leg, q in self.q.items()} \
            if tr.recording else None
        with tr.op("stream_tick"):
            t0 = time.perf_counter()
            with tr.span("stream.tick"):
                for leg, rows in feeds.items():
                    self._drop(leg, rows, f"b{i:03d}")
                for q in self.q.values():
                    q.processAllAvailable()
            dt = time.perf_counter() - t0
        for leg, q in self.q.items():
            d = self._progress(q, self.drops[leg] - 1).durationMs
            self.batch_s[leg].append(d["triggerExecution"] / 1000.0)
            self.progress.append(d)
            if jobs0 is not None:
                self.jobs.append(self._jobs(q) - jobs0[leg])
        return dt

    @staticmethod
    def _progress(q, batch_id: int, timeout_s: float = 10.0):
        """The progress report of micro-batch `batch_id`; it is posted
        just after processAllAvailable() sees the batch committed."""
        deadline = time.monotonic() + timeout_s
        while True:
            for p in reversed(q.recentProgress):
                if p.batchId == batch_id:
                    return p
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress for batch {batch_id}")
            time.sleep(0.01)

    def _jobs(self, q) -> int:
        """Jobs the query has run so far (its job group is its runId)."""
        sc = self.ctx.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    def stop(self) -> None:
        for q in self.q.values():
            q.stop()

    def output_ids(self) -> dict[str, list[int]]:
        from sybil_spark.streaming import ingest_stream as IS
        spark = self.ctx.spark
        out = {}
        for leg, col in (("near_dedup", "doc_id"), ("embedding_dedup", "vec_id")):
            df = IS.read_stream_output(spark, self._dir(leg, "out"))
            out[leg] = [r[0] for r in df.select(col).collect()]
        codes = (spark.read.option("recursiveFileLookup", "true")
                 .parquet(os.path.join(self._dir("ivfpq_add", "idx"),
                                       "codes_stream")))
        out["ivfpq_add"] = [r[0] for r in codes.select("vec_id").collect()]
        return out

    def check(self) -> tuple[list[str], str]:
        """Output ids are unique and a subset of the fed ids (the
        index-add leg keeps every fed id); returns (failures, sha1 of
        the sorted outputs)."""
        bad = []
        ids = self.output_ids()
        for leg, got in ids.items():
            fed = set(self.fed[leg])
            if len(got) != len(set(got)):
                bad.append(f"stream {leg}: duplicate output ids")
            if not set(got) <= fed:
                bad.append(f"stream {leg}: output ids not fed")
            if leg == "ivfpq_add" and set(got) != fed:
                bad.append(f"stream {leg}: {len(fed - set(got))} ids lost")
        digest = hashlib.sha1(json.dumps(
            {k: sorted(v) for k, v in ids.items()}).encode()).hexdigest()
        return bad, digest

    def layer_metrics(self) -> dict:
        allb = [x for xs in self.batch_s.values() for x in xs]

        def dur(k):
            return median(p.get(k, 0) / 1000.0 for p in self.progress)
        return {
            "stream.batch_s": median(allb),
            "stream.jobs_per_batch": median(self.jobs),
            "stream.add_batch_s": dur("addBatch"),
            "stream.query_planning_s": dur("queryPlanning"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.latest_offset_s": dur("latestOffset"),
        }


class Pipeline(Workload):
    """The heavy corpus operators, each built and collected once per
    round, and one streaming tick. unpersist_unscoped() runs
    after each op, as in bench.py.

    The order is fixed; the seed varies only the data. Each op is
    measured on its first execution in the session, and ops late in a
    round run 20-40 % faster than early ones as the JVM warms up, so a
    seeded order would move each op's latency by that much from run to
    run."""

    tables = ("documents", "embeddings", "lineitem", "orders", "customer")
    oracle_ops = PIPELINE_OPS
    ops = PIPELINE_OPS[:6] + ["stream_tick"] + PIPELINE_OPS[6:]

    def order(self) -> list[str]:
        return list(self.ops)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.streams = Streams(ctx)
        self.stream_hash = None

    def warm(self) -> None:
        """bench.py's Python-worker warm-ups, in parallel with the
        streaming legs' bootstrap and one warm-up batch each. The corpus
        operators are not warmed: each is measured on its first
        execution in the session, as a batch pipeline runs it."""
        self.streams.start(lambda: warm_workers(self.ctx.spark,
                                                self.ctx.cpus))

    def run_op(self, name: str) -> float:
        if name == "stream_tick":
            return self.streams.tick()
        return self.corpus_op(name)

    def check(self) -> list[str]:
        bad = self.oracle_failures()
        self.close()
        sbad, self.stream_hash = self.streams.check()
        return bad + sbad

    def close(self) -> None:
        self.streams.stop()

    def outcome_metrics(self) -> dict:
        return {}

    def layer_metrics(self) -> dict:
        m = {f"op.{n}_s": median(self.lat.get(n, [])) for n in PIPELINE_OPS}
        m.update(self.streams.layer_metrics())
        return m


WORKLOADS = {"dashboard": Dashboard, "pipeline": Pipeline}


def op_summary(ops: list[tuple[str, float, bool]], wall: float) -> dict:
    done = [dt for _, dt, ok in ops if ok]
    return {"op_p50_s": median(done), "op_p90_s": percentile(done, 0.9),
            "ops_per_s": len(done) / wall if wall else 0.0}
