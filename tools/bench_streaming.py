"""Per-batch latency and job count of the streaming legs.

Each leg bootstraps its index from the head of an sf dir's documents
(or embeddings), processes one warm-up micro-batch, then BATCHES
measured micro-batches of the tail: 250 documents or 100 vectors
each (fewer on a small sf dir), the sizes of perfbench's stream tick.
The embedding leg has no bootstrap helper, so its own first batch
(the head) builds its index.

Per measured batch it prints the wall seconds of processAllAvailable()
and the Spark jobs the batch ran (a streaming query's jobs run in the
job group named by its runId). Per leg it prints the mean latency of
the last three batches over the first three: about 1.0 means latency
stays flat as the index grows. The last line of stdout is the whole
record as JSON.

The session is sybil_spark.session.get_spark at
local[$SPARK_GRAFT_CPUS] (default: every core).

Usage: python tools/bench_streaming.py SF_DIR [LEG ...]
LEG is any of exact, near, span, exsub, embedding, bm25, ivfpq
(default: all seven).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCHES = 10
DOCS_PER_BATCH = 250
VECS_PER_BATCH = 100


def split(rows: list, cap: int) -> tuple[list, list[list]]:
    """(head, [warm-up batch, BATCHES measured batches]) of `rows`."""
    bs = max(1, min(cap, len(rows) // (BATCHES + 2)))
    head = rows[:len(rows) - (BATCHES + 1) * bs]
    tail = rows[len(head):]
    return head, [tail[i * bs:(i + 1) * bs] for i in range(BATCHES + 1)]


def main() -> None:
    from sybil_spark.operators import dedup, quality, similarity
    from sybil_spark.session import get_spark
    from sybil_spark.streaming import ingest_stream as IS

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sf_dir, want = sys.argv[1], sys.argv[2:]
    spark = get_spark("bench-streaming",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    dsch = "doc_id long, text string"
    esch = "vec_id long, embedding array<double>"
    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect()]
    embs = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding").orderBy("vec_id").collect()]
    doc_head, doc_batches = split(docs, DOCS_PER_BATCH)
    emb_head, emb_batches = split(embs, VECS_PER_BATCH)
    dim = len(embs[0][1])

    def exact(tmp, stream):
        idx = os.path.join(tmp, "idx")
        dedup.hash_index(spark.createDataFrame(doc_head, dsch),
                         ["text"]).write.parquet(idx)
        return IS.stream_dedup_against_index(
            stream, ["text"], "doc_id", os.path.join(tmp, "out"), idx)

    def near(tmp, stream):
        idx = os.path.join(tmp, "idx")
        IS.bootstrap_minhash_band_index(
            spark.createDataFrame(doc_head, dsch), "doc_id", "text", idx)
        return IS.stream_near_dedup_against_index(
            stream, "doc_id", "text", os.path.join(tmp, "out"), idx)

    def span(tmp, stream):
        idx = os.path.join(tmp, "idx")
        IS.bootstrap_span_index(spark.createDataFrame(doc_head, dsch),
                                "doc_id", "text", idx, span_words=20)
        return IS.stream_span_dedup_against_index(
            stream, "doc_id", "text", os.path.join(tmp, "out"), idx,
            span_words=20)

    def exsub(tmp, stream):
        idx = os.path.join(tmp, "idx")
        IS.bootstrap_window_index(spark.createDataFrame(doc_head, dsch),
                                  "doc_id", "text", idx, window_words=10)
        return IS.stream_exact_substr_against_index(
            stream, "doc_id", "text", os.path.join(tmp, "out"), idx,
            window_words=10)

    def embedding(tmp, stream):
        return IS.stream_embedding_dedup_against_index(
            stream, "vec_id", "embedding", dim=dim,
            out_path=os.path.join(tmp, "out"),
            index_path=os.path.join(tmp, "idx"), threshold=0.95)

    def bm25(tmp, stream):
        idx = os.path.join(tmp, "idx")
        quality.build_bm25_index(spark.createDataFrame(doc_head, dsch),
                                 "doc_id", "text", idx)
        return IS.stream_bm25_index_add(stream, idx)

    def ivfpq(tmp, stream):
        idx = os.path.join(tmp, "idx")
        similarity.build_ivfpq_index(spark.createDataFrame(emb_head, esch),
                                     "embedding", idx)
        return IS.stream_ivfpq_index_add(stream, idx)

    # name: (start, input schema and fields, batches fed before the
    # warm-up batch, warm-up + measured batches)
    dio, eio = (dsch, ("doc_id", "text")), (esch, ("vec_id", "embedding"))
    legs = {"exact": (exact, dio, [], doc_batches),
            "near": (near, dio, [], doc_batches),
            "span": (span, dio, [], doc_batches),
            "exsub": (exsub, dio, [], doc_batches),
            "embedding": (embedding, eio, [emb_head], emb_batches),
            "bm25": (bm25, dio, [], doc_batches),
            "ivfpq": (ivfpq, eio, [], emb_batches)}
    unknown = set(want) - set(legs)
    if unknown:
        sys.exit(f"unknown legs {sorted(unknown)}; pick from {list(legs)}")

    def jobs(q) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    def run(name, start, io, seed, batches) -> dict:
        schema, cols = io
        tmp = tempfile.mkdtemp(prefix=f"bench-{name}-")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        q = start(tmp, spark.readStream.schema(schema).json(src))
        out = {"batch_s": [], "jobs": []}
        try:
            for i, rows in enumerate(seed + batches):
                with open(os.path.join(src, f".b{i:03d}"), "w") as f:
                    for r in rows:
                        f.write(json.dumps(dict(zip(cols, r))) + "\n")
                os.replace(os.path.join(src, f".b{i:03d}"),
                           os.path.join(src, f"b{i:03d}.json"))
                j0, t0 = jobs(q), time.perf_counter()
                q.processAllAvailable()
                dt, nj = time.perf_counter() - t0, jobs(q) - j0
                k = i - len(seed) - 1   # warm-up batch is -1
                if k < 0:
                    continue
                out["batch_s"].append(round(dt, 3))
                out["jobs"].append(nj)
                print(f"{name} batch {k}: {dt:.2f} s, {nj} jobs",
                      flush=True)
        finally:
            q.stop()
            shutil.rmtree(tmp, ignore_errors=True)
        b = out["batch_s"]
        out["last3_over_first3"] = round(sum(b[-3:]) / sum(b[:3]), 3)
        print(f"{name}: last-3/first-3 latency {out['last3_over_first3']}",
              flush=True)
        return out

    record = {"sf_dir": sf_dir, "master": sc.master, "batches": BATCHES,
              "docs_per_batch": len(doc_batches[0]),
              "vecs_per_batch": len(emb_batches[0]), "legs": {}}
    for name, leg in legs.items():
        if not want or name in want:
            record["legs"][name] = run(name, *leg)
    spark.stop()
    print(json.dumps(record))


if __name__ == "__main__":
    main()
