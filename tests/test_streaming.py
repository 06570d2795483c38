"""Structured-Streaming ingest + continuous rollup (SURVEY.md §2.7
extension — the reference emulates streaming with shell loops)."""

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from sybil_spark.sources import compact
from sybil_spark.streaming.ingest_stream import (
    read_stream_output as RSO, stream_ingest, stream_rollup)
from sybil_spark.table import Table

SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("ping", LongType()),
    StructField("time", LongType()),
])


def _write_batch(d, name, records):
    p = d / name
    with open(p, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_to_row_log(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 10, "time": 1_700_000_000},
                  {"host": "b", "ping": 20, "time": 1_700_000_060}])
    t = Table(str(tmp_path / "db"), "stream")
    q = stream_ingest(spark, str(src), t, SCHEMA)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"host": "a", "ping": 30, "time": 1_700_003_700}])
        q.processAllAvailable()
    finally:
        q.stop()
    df = spark.read.parquet(t.ingest_path)
    assert df.count() == 3
    # the landing dir is digestible like any batch-ingested log
    n = compact.digest(spark, t, time_col="time")
    assert n == 3


def test_stream_rollup(spark, tmp_path):
    src = tmp_path / "roll-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 10, "time": 1_700_000_000},
                  {"host": "a", "ping": 20, "time": 1_700_000_100},
                  {"host": "a", "ping": 40, "time": 1_700_003_600}])
    stream = (spark.readStream.schema(SCHEMA).json(str(src)))
    rolled = stream_rollup(stream, "time", 3600, ["host"], agg_col="ping")
    q = (rolled.writeStream.format("memory").queryName("rollup_test")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = {(r["tbucket"], r["host"]): r
                for r in spark.sql("select * from rollup_test").collect()}
    finally:
        q.stop()
    first = 1_700_000_000 - 1_700_000_000 % 3600
    assert rows[(first, "a")]["count"] == 2
    assert rows[(first, "a")]["avg_ping"] == pytest.approx(15.0)
    assert rows[(first + 3600, "a")]["count"] == 1


def test_stream_sessions(spark, tmp_path):
    from sybil_spark.streaming.ingest_stream import stream_sessions
    src = tmp_path / "sess-in"
    src.mkdir()
    t0 = 1_700_000_000
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 1, "time": t0},
                  {"host": "a", "ping": 1, "time": t0 + 60},      # same session
                  {"host": "a", "ping": 1, "time": t0 + 10_000},  # new session
                  {"host": "b", "ping": 1, "time": t0}])
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    sess = stream_sessions(stream, "time", ["host"], gap="30 minutes")
    q = (sess.writeStream.format("memory").queryName("sess_test")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from sess_test").collect()
    finally:
        q.stop()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["a"]) == 2   # gap of 10000s > 30min splits
    assert len(by_host["b"]) == 1
    first_a = min(by_host["a"], key=lambda r: r["session_start"])
    assert first_a["count"] == 2
    assert first_a["session_end"] - first_a["session_start"] == 60 + 1800


def test_stream_running_counts(spark, tmp_path):
    from sybil_spark.streaming.ingest_stream import stream_running_counts
    src = tmp_path / "state-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 1, "time": 1},
                  {"host": "a", "ping": 2, "time": 2},
                  {"host": "b", "ping": 3, "time": 3}])
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    counts = stream_running_counts(stream, ["host"])
    q = (counts.writeStream.format("memory").queryName("state_test")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"host": "a", "ping": 4, "time": 4}])
        q.processAllAvailable()
        rows = spark.sql("select * from state_test").collect()
    finally:
        q.stop()
    # update mode appends one row per (batch, key): a→2, b→1, then a→3
    latest = {}
    for r in rows:
        latest[r["key"]] = max(latest.get(r["key"], 0), r["total"])
    assert latest == {"a": 3, "b": 1}


def test_stream_rollup_partials_equal_batch_rollup(spark, tmp_path):
    """Incremental rollup partials appended per micro-batch must
    serve the same answer as a one-shot batch rollup — bit-for-bit
    (mergeable decimal partials commute)."""
    from sybil_spark.sources import rollup as R
    from sybil_spark.streaming.ingest_stream import stream_rollup_partials
    src = tmp_path / "rp-in"
    src.mkdir()
    roll_path = str(tmp_path / "roll")
    b1 = [{"host": f"h{i % 2}", "ping": 10 + i, "time": 1_700_000_000 + i * 30}
          for i in range(40)]
    b2 = [{"host": f"h{i % 2}", "ping": 50 + i, "time": 1_700_000_000 + i * 45}
          for i in range(30)]
    _write_batch(src, "b1.ndjson", b1)
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = stream_rollup_partials(stream, roll_path, "time", 60, ["host"],
                               ["ping"], distinct_cols=["host"])
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", b2)
        q.processAllAvailable()
    finally:
        q.stop()

    from pyspark.sql import Row
    batch_df = spark.createDataFrame([Row(**r) for r in b1 + b2])
    want = {r["host"]: r for r in
            R.serve(R.build_rollup(batch_df, "time", 60, ["host"], ["ping"],
                                   ["host"]),
                    ["host"], ["ping"], distinct=True).collect()}
    got = {r["host"]: r for r in
           R.serve(R.read_rollup(spark, roll_path),
                   ["host"], ["ping"], distinct=True).collect()}
    assert got.keys() == want.keys()
    for k in got:
        assert got[k]["count"] == want[k]["count"]
        assert got[k]["avg_ping"] == want[k]["avg_ping"]   # bit-exact
        assert got[k]["min_ping"] == want[k]["min_ping"]
        assert got[k]["distinct"] == want[k]["distinct"]


def test_stream_dedup(spark, tmp_path):
    from sybil_spark.streaming.ingest_stream import stream_dedup
    src = tmp_path / "dd-in"
    src.mkdir()
    t0 = 1_700_000_000
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 1, "time": t0},
                  {"host": "a", "ping": 2, "time": t0 + 10},  # dup key 'a'
                  {"host": "b", "ping": 3, "time": t0}])
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    deduped = stream_dedup(stream, ["host"], "time")
    q = (deduped.writeStream.format("memory").queryName("dd_test")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"host": "a", "ping": 4, "time": t0 + 20},  # still dup
                      {"host": "c", "ping": 5, "time": t0}])
        q.processAllAvailable()
        rows = spark.sql("select * from dd_test").collect()
    finally:
        q.stop()
    hosts = sorted(r["host"] for r in rows)
    assert hosts == ["a", "b", "c"]   # one row per key within watermark


def test_stream_ingest_auto_digest(spark, tmp_path, monkeypatch):
    """auto_digest=True keeps the landing dir bounded under a steady
    stream: batches past the file threshold compact into blocks, and
    the table's full contents stay intact."""
    from sybil_spark.sources import ingest as I
    monkeypatch.setattr(I, "FILE_DIGEST_THRESHOLD", 2)
    src = tmp_path / "auto-in"
    src.mkdir()
    t = Table(str(tmp_path / "db"), "autostream")
    for i in range(5):
        _write_batch(src, f"b{i}.ndjson",
                     [{"host": f"h{i}", "ping": i,
                       "time": 1_700_000_000 + i}])
    q = stream_ingest(spark, str(src), t, SCHEMA, auto_digest=True,
                      max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import os
    assert os.path.exists(t.blocks_path)        # digests fired mid-stream
    landing = [f for f in os.listdir(t.ingest_path)
               if not f.startswith(("_", "."))]
    assert len(landing) <= 3 * 2                # bounded, not 5 batches
    got = sorted(r["ping"] for r in t.read(spark, read_log=True).collect())
    assert got == [0, 1, 2, 3, 4]


def test_stream_dedup_against_index(spark, tmp_path):
    """Cross-batch exact dedup via the persisted hash index: a key
    seen in batch 1 (or in the bootstrap corpus) never re-emits."""
    from sybil_spark.operators import dedup
    from sybil_spark.streaming.ingest_stream import (
        stream_dedup_against_index)
    idx_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "out")
    # bootstrap the index from a historical corpus containing 'h9'
    hist = spark.createDataFrame([("h9", 999, 0)],
                                 schema="host string, ping long, time long")
    dedup.hash_index(hist, ["host"]).write.parquet(idx_path)

    src = tmp_path / "dd-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson",
                 [{"host": "a", "ping": 1, "time": 1},
                  {"host": "a", "ping": 2, "time": 2},     # in-batch dup
                  {"host": "h9", "ping": 3, "time": 3}])   # historical dup
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = stream_dedup_against_index(stream, ["host"], "time",
                                   out_path, idx_path)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"host": "a", "ping": 4, "time": 4},  # cross-batch dup
                      {"host": "b", "ping": 5, "time": 5}])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["host"]: r["ping"]
            for r in RSO(spark, out_path).collect()}
    assert rows == {"a": 1, "b": 5}


def test_stream_near_dedup_against_index(spark, tmp_path):
    """Cross-batch NEAR-dup filtering via the persisted MinHash band
    index: a doc LSH-similar to one kept in an earlier batch (or in
    the bootstrap corpus) never re-emits; unique docs pass."""
    from sybil_spark.streaming.ingest_stream import (
        bootstrap_minhash_band_index, stream_near_dedup_against_index)
    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain falls gently on the quiet village roofs tonight")
    hist_text = ("four score and seven years ago our fathers brought "
                 "forth on this continent a new nation conceived in "
                 "liberty and dedicated to a proposition")

    def mutate(text, word):
        toks = text.split()
        toks[5] = word
        return " ".join(toks)

    idx_path = str(tmp_path / "bidx")
    out_path = str(tmp_path / "bout")
    hist = spark.createDataFrame([("H", hist_text)],
                                 schema="doc_id string, text string")
    bootstrap_minhash_band_index(hist, "doc_id", "text", idx_path,
                                 bands=32)

    src = tmp_path / "nd-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [
        {"doc_id": "A", "text": base},
        {"doc_id": "B", "text": mutate(base, "leaps")},       # in-batch dup
        {"doc_id": "E", "text": mutate(hist_text, "months")}, # vs bootstrap
    ])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_near_dedup_against_index(stream, "doc_id", "text",
                                        out_path, idx_path, bands=32)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [
            {"doc_id": "C", "text": mutate(base, "hops")},    # cross-batch
            {"doc_id": "D", "text": ("completely different content "
                                     "about spark shuffle partitions "
                                     "and columnar parquet readers "
                                     "running wide aggregations")},
            {"doc_id": "N", "text": None},   # no bands -> passes through
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {r["doc_id"] for r in RSO(spark, out_path).collect()}
    assert kept == {"A", "D", "N"}
    # the index grew by exactly the banded survivors' bands
    idx = RSO(spark, idx_path)
    assert {r["id"] for r in idx.select("id").distinct().collect()} \
        == {"H", "A", "D"}
    # a stream with mismatched hash parameters fails fast instead of
    # silently matching nothing against the persisted index
    _write_batch(src, "b3.ndjson",
                 [{"doc_id": "Z", "text": base}])
    q2 = stream_near_dedup_against_index(
        stream, "doc_id", "text", str(tmp_path / "bout2"), idx_path,
        bands=16, checkpoint=str(tmp_path / "ck2"))
    try:
        with pytest.raises(Exception, match="built with"):
            q2.processAllAvailable()
    finally:
        q2.stop()


def test_stream_embedding_dedup_against_index(spark, tmp_path):
    """Cross-batch embedding-cosine near-dup: a vector
    cosine-similar (>= threshold) to one kept in an earlier batch
    never re-emits; dissimilar vectors pass. Verification is exact
    cosine — bucket collisions alone never drop anything."""
    from sybil_spark.streaming.ingest_stream import (
        stream_embedding_dedup_against_index)
    from pyspark.sql.types import ArrayType, DoubleType
    idx_path = str(tmp_path / "eidx")
    out_path = str(tmp_path / "eout")
    src = tmp_path / "e-in"
    src.mkdir()
    schema = StructType([
        StructField("vid", StringType()),
        StructField("emb", ArrayType(DoubleType()))])
    _write_batch(src, "b1.ndjson", [
        {"vid": "A", "emb": [1.0, 0.01, 0.0, 0.0]},
        {"vid": "B", "emb": [1.0, 0.0, 0.01, 0.0]},  # ~A: in-batch dup
        {"vid": "C", "emb": [0.0, 1.0, 0.0, 0.0]},   # orthogonal: keep
    ])
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_embedding_dedup_against_index(
        stream, "vid", "emb", dim=4, out_path=out_path,
        index_path=idx_path, threshold=0.95)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [
            {"vid": "D", "emb": [1.0, 0.005, 0.005, 0.0]},  # ~A: cross
            {"vid": "E", "emb": [0.0, 0.0, 1.0, 0.0]},      # new: keep
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {r["vid"] for r in RSO(spark, out_path).collect()}
    assert kept == {"A", "C", "E"}
    idx_ids = {r["id"] for r in
               RSO(spark, idx_path + "/vectors").collect()}
    assert idx_ids == {"A", "C", "E"}


def test_stream_stream_join(spark, tmp_path):
    """Impression->click attribution: clicks join impressions with the
    same user within the delay bound; clicks outside it don't."""
    from sybil_spark.streaming.ingest_stream import stream_join
    imp_dir = tmp_path / "imp"
    clk_dir = tmp_path / "clk"
    imp_dir.mkdir()
    clk_dir.mkdir()
    t0 = 1_700_000_000
    _write_batch(imp_dir, "i.ndjson",
                 [{"host": "u1", "ping": 0, "time": t0},
                  {"host": "u2", "ping": 0, "time": t0 + 10}])
    _write_batch(clk_dir, "c.ndjson",
                 [{"host": "u1", "ping": 0, "time": t0 + 60},     # joins
                  {"host": "u1", "ping": 0, "time": t0 + 7200},   # too late
                  {"host": "u3", "ping": 0, "time": t0 + 30}])    # no imp
    imp = spark.readStream.schema(SCHEMA).json(str(imp_dir))
    clk = spark.readStream.schema(SCHEMA).json(str(clk_dir))
    joined = stream_join(imp, clk, ["host"], "time", "time",
                         max_delay_seconds=600)
    q = (joined.writeStream.format("memory").queryName("ssjoin")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from ssjoin").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert (r["host"], r["left_time"], r["right_time"],
            r["delay_seconds"]) == ("u1", t0, t0 + 60, 60)


def test_stream_span_dedup_against_index(spark, tmp_path):
    """Cross-batch span-level substring dedup: a span kept in an
    earlier batch (via the persisted span-hash index) never re-emits;
    within-batch repeats cut by (id, pos) order; every doc emits one
    output row (a fully-stale doc with n_kept=0, a NULL-text doc with
    NULL stats); mismatched span_words fails fast."""
    from sybil_spark.streaming.ingest_stream import (
        stream_span_dedup_against_index)
    idx_path = str(tmp_path / "sidx")
    out_path = str(tmp_path / "sout")
    src = tmp_path / "sp-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [
        {"doc_id": "A", "text": "a b c d e f"},
        {"doc_id": "B", "text": "a b c x y z"},   # in-batch span repeat
    ])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_span_dedup_against_index(stream, "doc_id", "text",
                                        out_path, idx_path,
                                        span_words=3)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [
            {"doc_id": "C", "text": "d e f q r s"},  # cross-batch repeat
            {"doc_id": "D", "text": "a b c d e f"},  # fully stale
            {"doc_id": "N", "text": None},           # no spans
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r["doc_id"]: r for r in RSO(spark, out_path).collect()}
    assert out["A"]["dedup_text"] == "a b c d e f"
    assert out["B"]["dedup_text"] == "x y z" and out["B"]["n_kept"] == 1
    assert out["C"]["dedup_text"] == "q r s"
    assert out["D"]["n_kept"] == 0 and out["D"]["dedup_text"] == ""
    assert out["N"]["n_spans"] is None           # passed through
    # index holds exactly the distinct kept-span hashes: 4 spans
    # ("a b c", "d e f", "x y z", "q r s")
    assert RSO(spark, idx_path).distinct().count() == 4
    # parameter mismatch vs the persisted index fails fast
    _write_batch(src, "b3.ndjson", [{"doc_id": "Z", "text": "a b"}])
    q2 = stream_span_dedup_against_index(
        stream, "doc_id", "text", str(tmp_path / "sout2"), idx_path,
        span_words=4, checkpoint=str(tmp_path / "ck2"))
    try:
        with pytest.raises(Exception, match="span_words|built with"):
            q2.processAllAvailable()
            q2.awaitTermination(5)
    finally:
        q2.stop()


def test_stream_unigram_model_maintenance(spark, tmp_path):
    """Streaming unigram model: per-batch partials sum to exactly the
    batch-union counts; compaction folds them without changing the
    model; the maintained model scores a new doc identically to a
    model trained in one batch pass."""
    import glob

    from sybil_spark.operators import quality
    from sybil_spark.streaming.ingest_stream import (
        compact_unigram_model, read_unigram_model, stream_unigram_counts)
    src = tmp_path / "um-in"
    src.mkdir()
    mpath = str(tmp_path / "umodel")
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [{"doc_id": "A", "text": "a a b"}])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_unigram_counts(stream, "text", mpath,
                              checkpoint=str(tmp_path / "um-ck"))
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [{"doc_id": "B", "text": "b c"}])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["tok"]: r["cnt"]
           for r in read_unigram_model(spark, mpath).collect()}
    assert got == {"a": 2, "b": 2, "c": 1}
    n_before = len(glob.glob(mpath + "/**/*.parquet", recursive=True))
    compact_unigram_model(spark, mpath)
    after = {r["tok"]: r["cnt"]
             for r in read_unigram_model(spark, mpath).collect()}
    assert after == got
    assert len(glob.glob(mpath + "/**/*.parquet",
                         recursive=True)) <= n_before
    # maintained model == one-shot model for scoring
    union = spark.createDataFrame(
        [("A", "a a b"), ("B", "b c")], "doc_id string, text string")
    score = spark.createDataFrame([("Z", "a c q")],
                                  "doc_id string, text string")
    via_stream = quality.unigram_logprob(
        score, "doc_id", "text",
        model=read_unigram_model(spark, mpath), smooth_k=1).collect()
    via_batch = quality.unigram_logprob(
        score, "doc_id", "text",
        model=quality.unigram_model(union, "text"), smooth_k=1).collect()
    assert via_stream == via_batch


def test_stream_dedup_index_descriptor(spark, tmp_path):
    """The unified StreamDedupIndex descriptor: the exact leg now
    fails fast on a key_cols mismatch vs the persisted sidecar
    (previously a silent different-hash re-admission of every
    historical duplicate), and compact_dedup_index folds appended
    per-batch files to distinct rows without changing the answer —
    sidecar preserved, stream continues against the folded index."""
    import glob
    import json
    import os

    from sybil_spark.streaming.ingest_stream import (
        compact_dedup_index, stream_dedup_against_index)
    idx_path = str(tmp_path / "didx")
    out_path = str(tmp_path / "dout")
    src = tmp_path / "di-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson", [{"host": "a", "ping": 1, "time": 1}])
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = stream_dedup_against_index(stream, ["host"], "time",
                                   out_path, idx_path,
                                   checkpoint=str(tmp_path / "di-ck"))
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"host": "a", "ping": 9, "time": 2},
                      {"host": "b", "ping": 2, "time": 3}])
        q.processAllAvailable()
    finally:
        q.stop()
    meta = json.load(open(os.path.join(idx_path, "_index_meta.json")))
    assert meta == {"kind": "exact_keys", "params": {"key_cols": ["host"]},
                    "subdirs": []}
    # two per-batch commit dirs exist; folding replaces them with
    # one fold dir, records the watermark, keeps the sidecar
    assert len(glob.glob(idx_path + "/batch-*")) == 2
    assert compact_dedup_index(spark, idx_path) == 2
    assert glob.glob(idx_path + "/batch-*") == []
    assert len(glob.glob(idx_path + "/fold-*")) == 1
    wm = json.load(open(os.path.join(idx_path, "_fold_watermark.json")))
    assert wm["max_folded_batch_id"] == 1
    assert json.load(open(os.path.join(idx_path,
                                       "_index_meta.json"))) == meta
    # the stream keeps deduping against the folded index
    _write_batch(src, "b3.ndjson", [{"host": "b", "ping": 7, "time": 4},
                                    {"host": "c", "ping": 3, "time": 5}])
    stream2 = spark.readStream.schema(SCHEMA).json(str(src))
    q2 = stream_dedup_against_index(stream2, ["host"], "time",
                                    out_path, idx_path,
                                    checkpoint=str(tmp_path / "di-ck"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = {r["host"]: r["ping"]
            for r in RSO(spark, out_path).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}
    # different key_cols vs the sidecar fails fast
    q3 = stream_dedup_against_index(stream2, ["host", "ping"], "time",
                                    str(tmp_path / "dout2"), idx_path,
                                    checkpoint=str(tmp_path / "di-ck2"))
    try:
        with pytest.raises(Exception, match="key_cols|built with"):
            q3.processAllAvailable()
            q3.awaitTermination(5)
    finally:
        q3.stop()


def test_stream_dedup_batch_protocol(spark, tmp_path):
    """The per-batch protocol every dedup leg runs, called directly
    with explicit batch ids (no streaming query): an empty batch
    writes nothing; the sidecar check runs BEFORE the fold-watermark
    fence, so a parameter mismatch raises even for a fenced batch; a
    fenced batch never reaches the leg's step; a normal batch runs
    the step under the index lock, then commits the sidecar."""
    import os

    from sybil_spark.streaming import ingest_stream as IS

    idx = str(tmp_path / "pidx")
    meta_p = os.path.join(idx, "_index_meta.json")
    lock_dir = str(tmp_path / "pidx.lifecycle.lock")
    calls = []   # (batch_id, lock held, sidecar present) per step

    def step(batch_df, batch_id):
        calls.append((batch_id, os.path.isdir(lock_dir),
                      os.path.exists(meta_p)))

    def run(key_cols, batch_df, batch_id):
        sdi = IS.StreamDedupIndex(idx, "exact_keys",
                                  {"key_cols": key_cols})
        IS._batch_fn(sdi.batch_protocol(step), sdi.path)(batch_df,
                                                        batch_id)

    df = spark.createDataFrame([("a", 1, 1)],
                               "host string, ping long, time long")
    run(["host"], df.limit(0), 0)
    assert calls == [] and not os.path.exists(idx)
    run(["host"], df, 0)
    assert calls == [(0, True, False)]
    assert json.load(open(meta_p)) == {
        "kind": "exact_keys", "params": {"key_cols": ["host"]},
        "subdirs": []}
    with open(os.path.join(idx, "_fold_watermark.json"), "w") as f:
        json.dump({"max_folded_batch_id": 3}, f)
    run(["host"], df, 3)                      # fenced: step skipped
    with pytest.raises(ValueError, match="built with"):
        run(["ping"], df, 2)                  # mismatch beats the fence
    assert calls == [(0, True, False)]
    run(["host"], df, 4)
    assert calls[-1] == (4, True, True)


def test_stream_dedup_exactly_once_replay(spark, tmp_path):
    """The exactly-once contract: re-delivering every batch (a fresh
    checkpoint over the same source, same batch ids) leaves out_path
    and the index IDENTICAL — per-batch overwrite replaces, own-batch
    exclusion makes the replay compute against the same history its
    first attempt saw, nothing duplicates. Under the old append
    layout this doubled the index rows and the replayed batches'
    survivors."""
    from sybil_spark.streaming.ingest_stream import (
        stream_dedup_against_index)
    idx_path = str(tmp_path / "xidx")
    out_path = str(tmp_path / "xout")
    src = tmp_path / "xo-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson", [{"host": "a", "ping": 1, "time": 1}])
    time.sleep(0.05)   # distinct mtimes: file order = batch order
    _write_batch(src, "b2.ndjson", [{"host": "a", "ping": 9, "time": 2},
                                    {"host": "b", "ping": 2, "time": 3}])

    def run(ck):
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = stream_dedup_against_index(stream, ["host"], "time",
                                       out_path, idx_path, checkpoint=ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "xck-1"))
    first = sorted((r["host"], r["ping"])
                   for r in RSO(spark, out_path).collect())
    n_idx = RSO(spark, idx_path).count()
    assert first == [("a", 1), ("b", 2)]
    # full replay: fresh checkpoint, same files, same batch ids
    run(str(tmp_path / "xck-2"))
    again = sorted((r["host"], r["ping"])
                   for r in RSO(spark, out_path).collect())
    assert again == first                          # no duplicate docs
    assert RSO(spark, idx_path).count() == n_idx   # no duplicate keys


NEAR_TEXT = ("the quick brown fox jumps over the lazy dog while the "
             "rain falls gently on the quiet village roofs tonight")
HIST_TEXT = ("four score and seven years ago our fathers brought "
             "forth on this continent a new nation conceived in "
             "liberty and dedicated to a proposition")
OTHER_TEXT = ("completely different content about spark shuffle "
              "partitions and columnar parquet readers running wide "
              "aggregations")


def _swap5(text, word):
    toks = text.split()
    toks[5] = word
    return " ".join(toks)


# Both halves of the drop set fire. Each near-dup batch holds an
# in-batch duplicate (B of A, F of D) and an index duplicate (E of the
# bootstrapped H, C of A). The embedding leg has no bootstrap: its
# first batch holds the in-batch duplicate B of A, its second both
# kinds (F of E, D of A).
NEAR_BATCHES = [
    [{"doc_id": "A", "text": NEAR_TEXT},
     {"doc_id": "B", "text": _swap5(NEAR_TEXT, "leaps")},
     {"doc_id": "E", "text": _swap5(HIST_TEXT, "months")}],
    [{"doc_id": "C", "text": _swap5(NEAR_TEXT, "hops")},
     {"doc_id": "D", "text": OTHER_TEXT},
     {"doc_id": "F", "text": _swap5(OTHER_TEXT, "rows")},
     {"doc_id": "N", "text": None}],   # no bands: passes through
]
EMB_BATCHES = [
    [{"vid": "A", "emb": [1.0, 0.01, 0.0, 0.0]},
     {"vid": "B", "emb": [1.0, 0.0, 0.01, 0.0]},
     {"vid": "C", "emb": [0.0, 1.0, 0.0, 0.0]}],
    [{"vid": "D", "emb": [1.0, 0.005, 0.005, 0.0]},
     {"vid": "E", "emb": [0.0, 0.0, 1.0, 0.0]},
     {"vid": "F", "emb": [0.0, 0.0, 1.0, 0.01]},
     {"vid": "G", "emb": None}],       # no vector: passes through
]


def _near_leg(spark, tmp_path):
    """start(checkpoint) of a near-dup leg over tmp_path/in, its band
    index bootstrapped from one historical doc H."""
    from sybil_spark.streaming.ingest_stream import (
        bootstrap_minhash_band_index, stream_near_dedup_against_index)
    idx = str(tmp_path / "idx")
    bootstrap_minhash_band_index(
        spark.createDataFrame([("H", HIST_TEXT)],
                              "doc_id string, text string"),
        "doc_id", "text", idx, bands=32)

    def start(ck):
        stream = (spark.readStream.schema("doc_id string, text string")
                  .option("maxFilesPerTrigger", 1)
                  .json(str(tmp_path / "in")))
        return stream_near_dedup_against_index(
            stream, "doc_id", "text", str(tmp_path / "out"), idx,
            bands=32, checkpoint=ck)
    return start


def _embedding_leg(spark, tmp_path):
    """start(checkpoint) of an embedding leg over tmp_path/in."""
    from sybil_spark.streaming.ingest_stream import (
        stream_embedding_dedup_against_index)

    def start(ck):
        stream = (spark.readStream.schema("vid string, emb array<double>")
                  .option("maxFilesPerTrigger", 1)
                  .json(str(tmp_path / "in")))
        return stream_embedding_dedup_against_index(
            stream, "vid", "emb", dim=4, out_path=str(tmp_path / "out"),
            index_path=str(tmp_path / "idx"), threshold=0.95,
            checkpoint=ck)
    return start


def _query_jobs(spark, q):
    """Jobs a streaming query has run so far: its job group is its
    runId."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))


def _feed(spark, tmp_path, start, batches):
    """Feed `batches` one file (one micro-batch) at a time through a
    fresh query; returns the jobs the last batch ran."""
    src = tmp_path / "in"
    src.mkdir(parents=True)
    q = start(str(tmp_path / "ck-1"))
    try:
        for i, rows in enumerate(batches):
            _write_batch(src, f"b{i}.ndjson", rows)
            jobs0 = _query_jobs(spark, q)
            q.processAllAvailable()
        return _query_jobs(spark, q) - jobs0
    finally:
        q.stop()


def _replay(start, ck):
    """Re-deliver every batch: a fresh checkpoint over the same files
    gives them the same batch ids."""
    q = start(ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _rows(spark, path):
    return sorted((tuple(tuple(v) if isinstance(v, list) else v
                         for v in r) for r in RSO(spark, path).collect()),
                  key=repr)


def test_stream_near_dedup_exactly_once_replay(spark, tmp_path):
    """The exactly-once contract for the near-dup leg: re-delivering
    every batch leaves out_path and the band index identical, with
    no duplicate row, while in-batch and index duplicates both drop."""
    start = _near_leg(spark, tmp_path)
    _feed(spark, tmp_path, start, NEAR_BATCHES)

    def outputs():
        return {p: _rows(spark, str(tmp_path / p)) for p in ("out", "idx")}
    first = outputs()
    assert {r[0] for r in first["out"]} == {"A", "D", "N"}
    assert {r[0] for r in first["idx"]} == {"H", "A", "D"}
    _replay(start, str(tmp_path / "ck-2"))
    assert outputs() == first
    for rows in first.values():
        assert len(rows) == len(set(rows))


def test_stream_embedding_dedup_exactly_once_replay(spark, tmp_path):
    """The exactly-once contract for the embedding leg: re-delivering
    every batch leaves out_path, vectors/ and buckets/ identical,
    with no duplicate row, while in-batch and index duplicates both
    drop."""
    start = _embedding_leg(spark, tmp_path)
    _feed(spark, tmp_path, start, EMB_BATCHES)

    def outputs():
        return {p: _rows(spark, str(tmp_path / p))
                for p in ("out", "idx/vectors", "idx/buckets")}
    first = outputs()
    assert {r[0] for r in first["out"]} == {"A", "C", "E", "G"}
    assert {r[0] for r in first["idx/vectors"]} == {"A", "C", "E", "G"}
    assert {r[0] for r in first["idx/buckets"]} == {"A", "C", "E", "G"}
    _replay(start, str(tmp_path / "ck-2"))
    assert outputs() == first
    for rows in first.values():
        assert len(rows) == len(set(rows))


def test_stream_dedup_legs_job_budget(spark, tmp_path):
    """One micro-batch of each index leg, after a warm-up batch, runs
    within its Spark job budget: the drop set is computed once, in
    one decision snapshot that every write reads, so a plan that
    recomputes it per write shows up as extra jobs."""
    near = _feed(spark, tmp_path / "near",
                 _near_leg(spark, tmp_path / "near"), NEAR_BATCHES)
    emb = _feed(spark, tmp_path / "emb",
                _embedding_leg(spark, tmp_path / "emb"), EMB_BATCHES)
    assert near <= 12 and emb <= 15, (near, emb)


def test_compact_dedup_index_subdirs(spark, tmp_path):
    """compact_dedup_index folds BOTH sub-datasets of the embedding
    leg's two-frame index (buckets + vectors) and the stream keeps
    filtering correctly afterwards."""
    import os as _os

    from pyspark.sql.types import ArrayType, DoubleType

    from sybil_spark.streaming.ingest_stream import (
        compact_dedup_index, stream_embedding_dedup_against_index)
    idx_path = str(tmp_path / "eidx")
    out_path = str(tmp_path / "eout")
    src = tmp_path / "ei-in"
    src.mkdir()
    schema = StructType([StructField("doc_id", StringType()),
                         StructField("vec",
                                     ArrayType(DoubleType()))])
    _write_batch(src, "b1.ndjson",
                 [{"doc_id": "A", "vec": [1.0, 0.0]},
                  {"doc_id": "B", "vec": [0.0, 1.0]}])
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_embedding_dedup_against_index(
        stream, "doc_id", "vec", 2, out_path, idx_path,
        threshold=0.99, checkpoint=str(tmp_path / "ei-ck"))
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson",
                     [{"doc_id": "C", "vec": [1.0, 0.0]}])  # dup of A
        q.processAllAvailable()
    finally:
        q.stop()
    assert compact_dedup_index(spark, idx_path) > 0
    assert _os.path.exists(_os.path.join(idx_path, "buckets"))
    assert _os.path.exists(_os.path.join(idx_path, "vectors"))
    _write_batch(src, "b3.ndjson",
                 [{"doc_id": "D", "vec": [0.0, 1.0]},   # dup of B
                  {"doc_id": "E", "vec": [1.0, 1.0]}])  # new
    stream2 = spark.readStream.schema(schema).json(str(src))
    q2 = stream_embedding_dedup_against_index(
        stream2, "doc_id", "vec", 2, out_path, idx_path,
        threshold=0.99, checkpoint=str(tmp_path / "ei-ck"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    ids = {r["doc_id"] for r in RSO(spark, out_path).collect()}
    assert ids == {"A", "B", "E"}


def test_unigram_compaction_replay_watermark(spark, tmp_path):
    """The ADVICE scenario: a micro-batch commits its partials to
    model_path but the stream dies before the checkpoint commit.
    Compaction folds that batch into the batch_id=-1 snapshot and
    records the fold watermark; on restart the replayed batch must
    be SKIPPED — without the watermark it would re-create its (now
    absent) partition on top of the snapshot and double-count its
    tokens. The unclean stop is simulated by writing batch 1's
    partials to model_path exactly as write_batch would (same
    partition layout) while the checkpoint only knows batch 0, so
    the restarted stream re-delivers that data as batch 1."""
    from sybil_spark.streaming.ingest_stream import (
        _read_fold_watermark, compact_unigram_model,
        read_unigram_model, stream_unigram_counts)
    src = tmp_path / "wm-in"
    src.mkdir()
    mpath = str(tmp_path / "wmodel")
    ck = str(tmp_path / "wm-ck")
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [{"doc_id": "A", "text": "a a b"}])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_unigram_counts(stream, "text", mpath, checkpoint=ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # unclean stop: batch 1 ("b c") reached model_path but died
    # before the checkpoint commit — its partition exists, the
    # checkpoint still says latest=0, and its source file is in the
    # landing dir to be re-delivered as batch 1 on restart
    (spark.createDataFrame([("b", 1), ("c", 1)], "tok string, cnt long")
     .withColumn("batch_id", F.lit(1))
     .write.partitionBy("batch_id")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(mpath))
    _write_batch(src, "b2.ndjson", [{"doc_id": "B", "text": "b c"}])
    compact_unigram_model(spark, mpath)
    assert _read_fold_watermark(mpath) == 1
    # restart from the same checkpoint: batch 1 replays
    stream2 = spark.readStream.schema(doc_schema).json(str(src))
    q2 = stream_unigram_counts(stream2, "text", mpath, checkpoint=ck)
    try:
        q2.processAllAvailable()
        # ...and a genuinely new batch above the watermark still lands
        _write_batch(src, "b3.ndjson", [{"doc_id": "C", "text": "c"}])
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["tok"]: r["cnt"]
           for r in read_unigram_model(spark, mpath).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}   # no double count of b2


def test_bootstrap_span_index(spark, tmp_path):
    """bootstrap_span_index seeds the span-hash index from a batch
    corpus under the stream's expected column + sidecar: spans from
    the historical corpus are stale on the stream's first batch, and
    a span_words mismatch fails fast."""
    from sybil_spark.streaming.ingest_stream import (
        bootstrap_span_index, stream_span_dedup_against_index)
    hist = spark.createDataFrame([("H", "a b c d e f")],
                                 "doc_id string, text string")
    idx_path = str(tmp_path / "bsidx")
    bootstrap_span_index(hist, "doc_id", "text", idx_path, span_words=3)
    src = tmp_path / "bs-in"
    src.mkdir()
    out_path = str(tmp_path / "bs-out")
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [
        {"doc_id": "X", "text": "a b c q r s"}])   # "a b c" is historical
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_span_dedup_against_index(stream, "doc_id", "text",
                                        out_path, idx_path, span_words=3,
                                        checkpoint=str(tmp_path / "bs-ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = RSO(spark, out_path).collect()[0]
    assert row["dedup_text"] == "q r s" and row["n_kept"] == 1
    # mismatched span_words vs the bootstrapped sidecar fails fast
    q2 = stream_span_dedup_against_index(
        stream, "doc_id", "text", str(tmp_path / "bs-out2"), idx_path,
        span_words=5, checkpoint=str(tmp_path / "bs-ck2"))
    try:
        with pytest.raises(Exception, match="span_words|built with"):
            q2.processAllAvailable()
            q2.awaitTermination(5)
    finally:
        q2.stop()


def test_stream_append_refused_not_lost_under_lock(spark, tmp_path,
                                                   monkeypatch):
    """Verdict #7's contract: while a compactor holds the store's
    lifecycle lock, a concurrent micro-batch append is REFUSED (the
    batch fails before its checkpoint commit) rather than lost or
    interleaved — and the refused batch lands intact once the lock
    is free and the stream restarts."""
    import os

    from sybil_spark.sources import locks as L
    from sybil_spark.streaming import ingest_stream as IS

    real_path_lock = L.path_lock

    def short_lock(path, **kw):
        kw["timeout_s"] = 1.0   # override the leg's long wait
        return real_path_lock(path, **kw)

    monkeypatch.setattr(L, "path_lock", short_lock)
    src = tmp_path / "rl-in"
    src.mkdir()
    mpath = str(tmp_path / "rlmodel")
    ck = str(tmp_path / "rl-ck")
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [{"doc_id": "A", "text": "a b"}])
    holder = real_path_lock(mpath).acquire()   # "compaction" running
    try:
        stream = spark.readStream.schema(doc_schema).json(str(src))
        q = IS.stream_unigram_counts(stream, "text", mpath,
                                     checkpoint=ck)
        try:
            with pytest.raises(Exception, match="held by pid"):
                q.processAllAvailable()
                q.awaitTermination(10)
        finally:
            q.stop()
        assert not os.path.isdir(mpath) or not os.listdir(mpath)
    finally:
        holder.release()
    # lock free again: the same checkpoint replays the refused batch
    stream2 = spark.readStream.schema(doc_schema).json(str(src))
    q2 = IS.stream_unigram_counts(stream2, "text", mpath,
                                  checkpoint=ck)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["tok"]: r["cnt"]
           for r in IS.read_unigram_model(spark, mpath).collect()}
    assert got == {"a": 1, "b": 1}   # refused batch delivered once


def test_stream_media_ingest(spark, tmp_path):
    """Streaming binaryFile ingestion: files landing across batches
    accumulate in the MEDIA_SCHEMA table with bytes intact and
    extension-derived kinds; the glob filter prunes at the listing."""
    from sybil_spark.streaming.ingest_stream import stream_media_ingest
    src = tmp_path / "media-in"
    src.mkdir()
    out = str(tmp_path / "media-out")
    (src / "a.png").write_bytes(b"\x89PNG one")
    q = stream_media_ingest(spark, str(src), out,
                            checkpoint=str(tmp_path / "media-ck"))
    try:
        q.processAllAvailable()
        (src / "b.wav").write_bytes(b"RIFF two")
        (src / "skip.txt").write_bytes(b"noise")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["kind"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"image", "audio", "binary"}
    assert bytes(rows["image"]["content"]) == b"\x89PNG one"
    assert rows["audio"]["format"] == "wav"


def test_stream_exact_substr_against_index(spark, tmp_path):
    """Cross-batch UNALIGNED substring dedup (fifth leg): a run seen
    in an earlier batch is cut at ANY offset via the persisted
    window-hash index; within-batch repeats cut by (id, pos) order;
    every doc emits one row (fully-stale -> n_kept=0, NULL text ->
    NULL stats); mismatched window_words fails fast."""
    from sybil_spark.streaming.ingest_stream import (
        stream_exact_substr_against_index)
    idx_path = str(tmp_path / "widx")
    out_path = str(tmp_path / "wout")
    src = tmp_path / "es-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [
        {"doc_id": "A", "text": "a b c d e f"},
        {"doc_id": "B", "text": "p q a b c r"},   # run at offset 2
    ])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_exact_substr_against_index(stream, "doc_id", "text",
                                          out_path, idx_path,
                                          window_words=3)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [
            {"doc_id": "C", "text": "x y c d e f z"},  # cross-batch run
            {"doc_id": "D", "text": "a b c d e f"},    # fully stale
            {"doc_id": "N", "text": None},
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r["doc_id"]: r for r in RSO(spark, out_path).collect()}
    assert out["A"]["dedup_text"] == "a b c d e f"
    assert out["B"]["dedup_text"] == "p q r" and out["B"]["n_kept"] == 3
    assert out["C"]["dedup_text"] == "x y z"
    assert out["D"]["n_kept"] == 0 and out["D"]["dedup_text"] == ""
    assert out["N"]["n_tokens"] is None          # passed through
    # index = corpus-first window hashes: A 4 + B 3 new ("p q a",
    # "q a b", "b c r") + C 3 new ("x y c", "y c d", "e f z") + D 0
    assert RSO(spark, idx_path).distinct().count() == 10
    _write_batch(src, "b3.ndjson", [{"doc_id": "Z", "text": "a b c"}])
    q2 = stream_exact_substr_against_index(
        stream, "doc_id", "text", str(tmp_path / "wout2"), idx_path,
        window_words=4, checkpoint=str(tmp_path / "wck2"))
    try:
        with pytest.raises(Exception, match="window_words|built with"):
            q2.processAllAvailable()
            q2.awaitTermination(5)
    finally:
        q2.stop()


def test_bootstrap_window_index(spark, tmp_path):
    """bootstrap_window_index seeds the unaligned leg from a batch
    corpus: a streamed doc repeating a bootstrapped run loses it at
    an unaligned offset on its very first batch."""
    from sybil_spark.streaming.ingest_stream import (
        bootstrap_window_index, stream_exact_substr_against_index)
    hist = spark.createDataFrame([("H", "m n o p")],
                                 "doc_id string, text string")
    idx_path = str(tmp_path / "bwidx")
    bootstrap_window_index(hist, "doc_id", "text", idx_path,
                           window_words=3)
    src = tmp_path / "bw-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson",
                 [{"doc_id": "S", "text": "m n o p q"}])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    out_path = str(tmp_path / "bwout")
    q = stream_exact_substr_against_index(stream, "doc_id", "text",
                                          out_path, idx_path,
                                          window_words=3)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    r = RSO(spark, out_path).collect()[0]
    assert r["dedup_text"] == "q" and r["n_kept"] == 1


def test_compact_window_index_and_resume(spark, tmp_path):
    """compact_dedup_index folds the fifth leg's window-hash batch
    subdirs into one distinct fold, and a stream resumed AFTER the
    compaction still cuts runs the pre-compaction batches saw —
    the fold is semantically transparent to the unaligned policy."""
    from sybil_spark.streaming.ingest_stream import (
        compact_dedup_index, stream_exact_substr_against_index)
    idx_path = str(tmp_path / "cwidx")
    out_path = str(tmp_path / "cwout")
    src = tmp_path / "cw-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson",
                 [{"doc_id": "A", "text": "a b c d e"}])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    ck = str(tmp_path / "cwck")
    q = stream_exact_substr_against_index(stream, "doc_id", "text",
                                          out_path, idx_path,
                                          window_words=3,
                                          checkpoint=ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_pre = RSO(spark, idx_path).distinct().count()
    assert compact_dedup_index(spark, idx_path) == n_pre
    _write_batch(src, "b2.ndjson",
                 [{"doc_id": "B", "text": "x a b c y"}])  # run at offset 1
    q2 = stream_exact_substr_against_index(stream, "doc_id", "text",
                                           out_path, idx_path,
                                           window_words=3,
                                           checkpoint=ck)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = {r["doc_id"]: r for r in RSO(spark, out_path).collect()}
    assert out["B"]["dedup_text"] == "x y"    # folded hashes still cut


def test_stream_bm25_index_add(spark, tmp_path):
    """Continuous BM25 index maintenance: streamed micro-batches are
    servable and BIT-EXACT immediately (serve merges committed batch
    dirs, corrects n_docs/avgdl, recomputes df), bm25_index_compact
    folds them onto the fast path (batch dirs consumed, watermark
    advanced, still exact), and a batch arriving AFTER the fold
    keeps working."""
    from sybil_spark.operators import quality

    base_rows = [(i, t) for i, t in enumerate(
        ["the quick brown fox jumps over the lazy dog",
         "a slow green turtle walks under the warm sun",
         "rivers run quick through the quiet brown valley"])]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    idx = str(tmp_path / "sbm25")
    quality.build_bm25_index(base, "doc_id", "text", idx, nbuckets=8)

    src = tmp_path / "bm-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
    _write_batch(src, "b1.ndjson", [
        {"doc_id": 100, "text": "quick silver fox under brown moonlight"}])
    from sybil_spark.streaming.ingest_stream import stream_bm25_index_add
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_bm25_index_add(stream, idx)
    qlist = [(1, "quick brown fox"), (2, "warm green sun")]

    def rebuild_and_serve(extra_rows):
        full = str(tmp_path / f"full{len(extra_rows)}")
        extra = spark.createDataFrame(extra_rows,
                                      "doc_id long, text string")
        quality.build_bm25_index(base.unionByName(extra), "doc_id",
                                 "text", full, nbuckets=8)
        return [tuple(r) for r in
                quality.bm25_index_topk(spark, full, qlist, k=5)
                       .orderBy("q_id", "rank").collect()]

    def serve():
        return [tuple(r) for r in
                quality.bm25_index_topk(spark, idx, qlist, k=5)
                       .orderBy("q_id", "rank").collect()]

    try:
        q.processAllAvailable()
        rows1 = [(100, "quick silver fox under brown moonlight")]
        assert serve() == rebuild_and_serve(rows1)     # pending batch
        assert quality.bm25_index_compact(spark, idx) > 0
        meta = json.load(open(f"{idx}/bm25_meta.json"))
        assert meta["stream_fold_watermark"] >= 0
        assert meta["n_docs"] == 4
        import os
        assert not os.path.isdir(f"{idx}/postings_stream")  # folded
        assert serve() == rebuild_and_serve(rows1)     # still exact
        _write_batch(src, "b2.ndjson", [
            {"doc_id": 101,
             "text": "green turtles dream of warm quick rivers"}])
        q.processAllAvailable()                        # post-fold batch
        rows2 = rows1 + [(101,
                          "green turtles dream of warm quick rivers")]
        assert serve() == rebuild_and_serve(rows2)
    finally:
        q.stop()


def test_stream_ivfpq_index_add(spark, tmp_path):
    """Continuous IVF-PQ maintenance: streamed vectors are servable
    immediately and the served top-k is IDENTICAL to a batch
    ivfpq_index_add of the same rows (frozen quantizers make both
    paths deterministic); ivfpq_index_compact folds the batch dirs
    (consumed, watermark advanced, results unchanged) and a
    post-fold batch keeps working."""
    import os
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity
    from sybil_spark.streaming.ingest_stream import stream_ivfpq_index_add

    dim = 8
    def vec(i):
        return [float((i * 7 + j * 3) % 13 + 1) for j in range(dim)]
    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(24)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding",
                                ArrayType(DoubleType()))]))
    idx = str(tmp_path / "sivfpq")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)

    src = tmp_path / "pq-in"
    src.mkdir()
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    _write_batch(src, "b1.ndjson",
                 [{"vec_id": 100 + i, "embedding": vec(100 + i)}
                  for i in range(4)])
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_ivfpq_index_add(stream, idx)

    query = vec(5)

    def serve():
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, idx, query, k=6,
                                            nprobe=4).collect()]

    def batch_ref(extra_rows):
        ref = str(tmp_path / f"ref{len(extra_rows)}")
        similarity.build_ivfpq_index(base, "embedding", ref,
                                     nlist=4, m=4, kcb=4)
        extra = spark.createDataFrame(extra_rows, schema)
        similarity.ivfpq_index_add(extra, ref)
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, ref, query, k=6,
                                            nprobe=4).collect()]

    try:
        q.processAllAvailable()
        rows1 = [(100 + i, vec(100 + i)) for i in range(4)]
        assert serve() == batch_ref(rows1)        # pending batch exact
        assert similarity.ivfpq_index_compact(spark, idx) == 1
        meta = json.load(open(f"{idx}/ivfpq_meta.json"))
        assert meta["stream_fold_watermark"] >= 0
        assert not os.path.isdir(f"{idx}/codes_stream")   # folded
        assert serve() == batch_ref(rows1)        # still exact
        _write_batch(src, "b2.ndjson",
                     [{"vec_id": 200, "embedding": vec(200)}])
        q.processAllAvailable()                   # post-fold batch
        rows2 = rows1 + [(200, vec(200))]
        assert serve() == batch_ref(rows2)
    finally:
        q.stop()


def test_ivfpq_stream_torn_batch_invisible(spark, tmp_path):
    """A batch dir without its _count.json commit marker (torn
    write) is served around and dropped by compact — never folded,
    never scored."""
    import os
    import shutil
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity

    dim = 8
    def vec(i):
        return [float((i * 7 + j * 3) % 13 + 1) for j in range(dim)]
    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(16)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding",
                                ArrayType(DoubleType()))]))
    idx = str(tmp_path / "tornpq")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)
    before = [tuple(r) for r in
              similarity.ivfpq_index_topk(spark, idx, vec(3), k=5,
                                          nprobe=4).collect()]
    # fabricate a torn batch: parquet without the marker
    torn = spark.createDataFrame([(999, vec(999))],
                                 "vec_id long, embedding array<double>")
    from sybil_spark.operators.similarity import ivf_assign, pq_encode
    import json as _json
    meta = _json.load(open(f"{idx}/ivfpq_meta.json"))
    enc = pq_encode(ivf_assign(torn, "embedding", meta["centroids"]),
                    "embedding", meta["codebooks"])
    (enc.select("vec_id", "pq_code", "cluster")
        .write.partitionBy("cluster").mode("overwrite")
        .parquet(f"{idx}/codes_stream/batch-7"))
    assert [tuple(r) for r in
            similarity.ivfpq_index_topk(spark, idx, vec(3), k=5,
                                        nprobe=4).collect()] == before
    assert similarity.ivfpq_index_compact(spark, idx) == 0
    assert not os.path.isdir(f"{idx}/codes_stream")       # swept
    assert [tuple(r) for r in
            similarity.ivfpq_index_topk(spark, idx, vec(3), k=5,
                                        nprobe=4).collect()] == before


def test_ivfpq_stream_compact_interleaved(spark, tmp_path):
    """Alternating micro-batches and compactions: the index serves
    exactly at EVERY step (pending, just-folded, pending-again), and
    repeated folds keep advancing the watermark monotonically."""
    import os
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity
    from sybil_spark.streaming.ingest_stream import stream_ivfpq_index_add

    dim = 8
    def vec(i):
        return [float((i * 11 + j * 5) % 17 + 1) for j in range(dim)]
    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(20)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding",
                                ArrayType(DoubleType()))]))
    idx = str(tmp_path / "interpq")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)
    src = tmp_path / "ipq-in"
    src.mkdir()
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_ivfpq_index_add(stream, idx)
    query = vec(7)

    def serve():
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, idx, query, k=6,
                                            nprobe=4).collect()]

    def batch_ref(extra_rows):
        ref = str(tmp_path / f"iref{len(extra_rows)}")
        similarity.build_ivfpq_index(base, "embedding", ref,
                                     nlist=4, m=4, kcb=4)
        if extra_rows:
            similarity.ivfpq_index_add(
                spark.createDataFrame(extra_rows, schema), ref)
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, ref, query, k=6,
                                            nprobe=4).collect()]

    try:
        added = []
        last_wm = -1
        for step in range(4):
            rows = [(300 + step * 10 + j, vec(300 + step * 10 + j))
                    for j in range(3)]
            _write_batch(src, f"s{step}.ndjson",
                         [{"vec_id": i, "embedding": v}
                          for i, v in rows])
            q.processAllAvailable()
            added += rows
            assert serve() == batch_ref(added), f"pending step {step}"
            if step % 2 == 1:
                assert similarity.ivfpq_index_compact(spark, idx) >= 1
                meta = json.load(open(f"{idx}/ivfpq_meta.json"))
                assert meta["stream_fold_watermark"] > last_wm
                last_wm = meta["stream_fold_watermark"]
                assert serve() == batch_ref(added), f"folded step {step}"
        assert not os.path.isdir(f"{idx}/codes_stream")
    finally:
        q.stop()


def test_ivfpq_stream_replay_skips_committed_batch(spark, tmp_path):
    """A replayed COMMITTED micro-batch (crash after the sidecar but
    before the checkpoint advanced — simulated with a fresh
    checkpoint dir over the same source) is a no-op: the batch dir's
    files are never rewritten in place, so a concurrent serve can
    never observe a committed batch's parquet vanish mid-overwrite,
    and the served rows stay exact (ADVICE r7)."""
    import os
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity
    from sybil_spark.streaming.ingest_stream import stream_ivfpq_index_add

    dim = 8
    def vec(i):
        return [float((i * 7 + j * 3) % 13 + 1) for j in range(dim)]
    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(16)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding", ArrayType(DoubleType()))]))
    idx = str(tmp_path / "replaypq")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)
    src = tmp_path / "rp-in"
    src.mkdir()
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    _write_batch(src, "b1.ndjson",
                 [{"vec_id": 100 + i, "embedding": vec(100 + i)}
                  for i in range(4)])

    def run(ckpt):
        stream = spark.readStream.schema(schema).json(str(src))
        q = stream_ivfpq_index_add(stream, idx, checkpoint=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "ck1"))
    bdir = f"{idx}/codes_stream/batch-0"
    marker = os.path.join(bdir, "_count.json")
    assert os.path.exists(marker)
    stamp = {p: os.stat(os.path.join(dp, p)).st_mtime_ns
             for dp, _, fs in os.walk(bdir) for p in fs}

    def serve():
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, idx, vec(5), k=6,
                                            nprobe=4).collect()]

    before = serve()
    run(str(tmp_path / "ck2"))          # fresh checkpoint => replay b0
    stamp2 = {p: os.stat(os.path.join(dp, p)).st_mtime_ns
              for dp, _, fs in os.walk(bdir) for p in fs}
    assert stamp2 == stamp              # dir untouched, not rewritten
    assert serve() == before            # no duplicate rows served


def test_bm25_stream_replay_skips_committed_batch(spark, tmp_path):
    """Same contract for the lexical index: a committed
    postings_stream batch is skipped on replay, never overwritten
    under a serve."""
    import os
    from sybil_spark.operators import quality
    from sybil_spark.streaming.ingest_stream import stream_bm25_index_add

    base = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(12)],
        ["doc_id", "text"])
    idx = str(tmp_path / "replaybm")
    quality.build_bm25_index(base, "doc_id", "text", idx, nbuckets=8)
    src = tmp_path / "rb-in"
    src.mkdir()
    _write_batch(src, "b1.ndjson",
                 [{"doc_id": 100 + i, "text": f"delta epsilon doc{i}"}
                  for i in range(3)])
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])

    def run(ckpt):
        stream = spark.readStream.schema(schema).json(str(src))
        q = stream_bm25_index_add(stream, idx, checkpoint=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "bk1"))
    bdir = f"{idx}/postings_stream/batch-0"
    assert os.path.exists(os.path.join(bdir, "_delta.json"))
    stamp = {p: os.stat(os.path.join(dp, p)).st_mtime_ns
             for dp, _, fs in os.walk(bdir) for p in fs}
    qlist = [(1, "alpha delta"), (2, "epsilon gamma")]
    before = [tuple(r) for r in
              quality.bm25_index_topk(spark, idx, qlist,
                                      k=5).collect()]
    run(str(tmp_path / "bk2"))
    stamp2 = {p: os.stat(os.path.join(dp, p)).st_mtime_ns
              for dp, _, fs in os.walk(bdir) for p in fs}
    assert stamp2 == stamp
    assert [tuple(r) for r in
            quality.bm25_index_topk(spark, idx, qlist,
                                    k=5).collect()] == before


def test_ivfpq_compact_crash_atomic(spark, tmp_path):
    """ivfpq_index_compact commits fold + watermark + stream-dir
    removal at ONE rename (commit.staged_swap). A crash while staging the
    replacement dir leaves the old index fully intact — codes,
    pending batches, meta — and still serving exactly (ADVICE r7:
    the old two-rename + separate meta write could lose the
    watermark advance or double-serve)."""
    import json as _json
    import os
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity
    from sybil_spark.sources import commit

    dim = 8
    def vec(i):
        return [float((i * 5 + j * 7) % 11 + 1) for j in range(dim)]
    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(16)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding", ArrayType(DoubleType()))]))
    idx = str(tmp_path / "crashpq")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)
    extra = spark.createDataFrame([(200, vec(200)), (201, vec(201))],
                                  "vec_id long, embedding array<double>")
    # stage a committed stream batch by hand (the add path's layout)
    meta = _json.load(open(f"{idx}/ivfpq_meta.json"))
    from sybil_spark.operators.similarity import ivf_assign, pq_encode
    enc = pq_encode(ivf_assign(extra, "embedding", meta["centroids"]),
                    "embedding", meta["codebooks"])
    bdir = f"{idx}/codes_stream/batch-0"
    (enc.select("vec_id", "pq_code", "cluster")
        .write.partitionBy("cluster").parquet(bdir))
    with open(os.path.join(bdir, "_count.json"), "w") as f:
        _json.dump({"n": 2}, f)

    def serve():
        return [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, idx, vec(3), k=8,
                                            nprobe=4).collect()]

    before = serve()
    assert any(r[0] in (200, 201) for r in before)   # batch served

    orig_swap = commit.staged_swap

    def crashing(path, write_fn):
        def boom(tmp):
            write_fn(tmp)
            raise RuntimeError("crash before rename")
        orig_swap(path, boom)

    commit.staged_swap = crashing
    try:
        with pytest.raises(RuntimeError):
            similarity.ivfpq_index_compact(spark, idx)
    finally:
        commit.staged_swap = orig_swap
    # old index fully intact: batch still pending, meta unchanged,
    # serve identical
    assert os.path.exists(os.path.join(bdir, "_count.json"))
    meta2 = _json.load(open(f"{idx}/ivfpq_meta.json"))
    assert int(meta2.get("stream_fold_watermark", -1)) == -1
    assert serve() == before
    # the retried compact succeeds and the swap is total: watermark
    # advanced, stream dir gone, serve unchanged
    assert similarity.ivfpq_index_compact(spark, idx) == 1
    assert not os.path.isdir(f"{idx}/codes_stream")
    meta3 = _json.load(open(f"{idx}/ivfpq_meta.json"))
    assert meta3["stream_fold_watermark"] == 0
    assert serve() == before


def test_ivfpq_compact_half_swap_recovers(spark, tmp_path, monkeypatch):
    """A crash BETWEEN the whole-dir swap's two renames leaves the
    index dir missing and the live copy under `__old-`. The next
    writer's path lock renames it back before reading, so an add
    succeeds, serving returns the pre-compact rows plus the added
    ones (the folded batch is still pending, not lost), and no
    `__stage-`/`__old-` dir is left beside the index."""
    import os

    from sybil_spark.operators import similarity
    from sybil_spark.operators.similarity import ivf_assign, pq_encode

    def vec(i):
        return [float((i * 5 + j * 7) % 11 + 1) for j in range(8)]

    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "halfswap")
    similarity.build_ivfpq_index(
        spark.createDataFrame([(i, vec(i)) for i in range(16)], schema),
        "embedding", idx, nlist=4, m=4, kcb=4)
    meta = json.load(open(f"{idx}/ivfpq_meta.json"))
    extra = spark.createDataFrame([(200, vec(200)), (201, vec(201))],
                                  schema)
    bdir = f"{idx}/codes_stream/batch-0"
    (pq_encode(ivf_assign(extra, "embedding", meta["centroids"]),
               "embedding", meta["codebooks"])
        .select("vec_id", "pq_code", "cluster")
        .write.partitionBy("cluster").parquet(bdir))
    with open(os.path.join(bdir, "_count.json"), "w") as f:
        json.dump({"n": 2}, f)

    def serve():
        return sorted(tuple(r) for r in similarity.ivfpq_index_topk(
            spark, idx, vec(3), k=100, nprobe=4).collect())

    before = serve()
    assert len(before) == 18
    real_rename = os.rename

    def crashing_rename(src, dst, *a, **kw):
        if "__stage-" in str(src):
            raise OSError("crash between the swap's renames")
        return real_rename(src, dst, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crashing_rename)
        with pytest.raises(OSError):
            similarity.ivfpq_index_compact(spark, idx)
    assert not os.path.exists(idx)   # the crash window itself
    added = spark.createDataFrame([(300, vec(300)), (301, vec(301))],
                                  schema)
    assert similarity.ivfpq_index_add(added, idx) == 2
    after = serve()
    assert sorted(r[0] for r in after if r[0] >= 300) == [300, 301]
    assert [r for r in after if r[0] < 300] == before
    assert [d for d in os.listdir(tmp_path)
            if "__stage-" in d or "__old-" in d] == []


def test_stream_quality_filter(spark, tmp_path):
    """The curation leg: per-batch pure-column rules drop rows
    exactly-once; the audit dir records the per-rule drop funnel."""
    from pyspark.sql.types import StructField, StructType, StringType, LongType

    from sybil_spark.streaming.ingest_stream import stream_quality_filter

    doc_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    src = tmp_path / "qf-in"
    src.mkdir()
    out = str(tmp_path / "qf-out")
    audit = str(tmp_path / "qf-audit")
    _write_batch(src, "b1.ndjson", [
        {"doc_id": 0, "text": "clean words all the way through here"},
        {"doc_id": 1, "text": "badword appears right here in text body"},
        {"doc_id": 2, "text": "too short"},
        {"doc_id": 3, "text": "badword too short"},
    ])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    rules = {
        "blocklist": F.size(F.filter(F.split(F.col("text"), " "),
                                     lambda t: t == F.lit("badword")))
        == 0,
        "min_tokens": F.size(F.split(F.col("text"), " ")) >= 5,
    }
    q = stream_quality_filter(stream, "doc_id", out, rules,
                              audit_path=audit)
    try:
        q.processAllAvailable()
        _write_batch(src, "b2.ndjson", [
            {"doc_id": 4, "text": "another clean document with many words"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in RSO(spark, out).collect())
    assert kept == [0, 4]
    a = {r["batch_id"]: r for r in RSO(spark, audit).collect()}
    b1 = a[0]
    assert (b1["n_in"], b1["n_kept"]) == (4, 1)
    assert b1["fail_blocklist"] == 2       # docs 1 and 3
    assert b1["fail_min_tokens"] == 2      # docs 2 and 3 (overlap with 3)
    assert (a[1]["n_in"], a[1]["n_kept"]) == (1, 1)
    # survivors keep the input schema — no __r_* flag columns leak
    assert set(RSO(spark, out).columns) == {"doc_id", "text"}


def _e2e_quality_rules():
    """The e2e pipeline's curation rules, shared verbatim between the
    streaming leg and the batch reference: a literal-weight logistic
    score over the 4-ratio + 8-hashed-char-trigram feature battery
    (classify.quality_features(ngram_buckets=8) — the quality_lr_ngram
    shape) plus a token floor."""
    from sybil_spark.operators import classify

    feats = classify.quality_features(F.col("text"), ngram_buckets=8)
    names = list(classify.QUALITY_FEATURES) + [f"ng{i}" for i in range(8)]
    weights = dict(zip(names, [0.05, 8.0, 0.0, -12.0] + [0.1] * 8))
    z = F.lit(-1.0)
    for n in names:
        z = z + F.lit(weights[n]) * feats.getField(n)
    prob = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) \
        .cast("decimal(38,6)").cast("string").cast("double")
    return {
        "quality_lr": prob >= F.lit(0.5),
        "min_tokens": F.size(F.split(F.col("text"), " ")) >= 4,
    }


def test_streaming_pipeline_e2e(spark, tmp_path):
    """The full continuous-curation pipeline composed END TO END —
    every leg exists and is tested alone; this is the composition
    proof: file ingest -> stream_quality_filter (logistic ngram
    quality score + token floor) -> stream_dedup_against_index
    (corpus-level exact dedup) -> stream_bm25_index_add AND
    stream_ivfpq_index_add, chained through the per-batch parquet
    commit dirs (each stage readStreams its upstream's out_path).
    Final assert: both served indexes BIT-EQUAL a batch rebuild over
    the batch-computed survivors of the same raw rows."""
    import os
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import quality, similarity
    from sybil_spark.operators.dedup import exact_keep_first
    from sybil_spark.streaming.ingest_stream import (
        stream_bm25_index_add, stream_dedup_against_index,
        stream_ivfpq_index_add, stream_quality_filter)

    dim = 8

    def vec(i):
        return [float((i * 7 + j * 3) % 13 + 1) for j in range(dim)]

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])

    # --- frozen base indexes the streams maintain -------------------
    base_docs = [
        (0, "the quick brown fox jumps over a lazy dog"),
        (1, "a slow green turtle walks under the warm sun"),
        (2, "rivers run quick through the quiet brown valley"),
    ]
    bm_idx = str(tmp_path / "e2e-bm25")
    quality.build_bm25_index(
        spark.createDataFrame(base_docs, "doc_id long, text string"),
        "doc_id", "text", bm_idx, nbuckets=8)
    base_vecs = spark.createDataFrame(
        [(i, vec(i)) for i in range(24)],
        "doc_id long, embedding array<double>")
    pq_idx = str(tmp_path / "e2e-ivfpq")
    similarity.build_ivfpq_index(base_vecs, "embedding", pq_idx,
                                 id_col="doc_id", nlist=4, m=4, kcb=4)

    # --- the chained stages -----------------------------------------
    src = tmp_path / "e2e-in"
    src.mkdir()
    out_qf = str(tmp_path / "e2e-qf")       # quality survivors
    out_dd = str(tmp_path / "e2e-dd")       # dedup survivors
    audit = str(tmp_path / "e2e-audit")
    dd_idx = str(tmp_path / "e2e-ddidx")
    os.makedirs(out_qf)
    os.makedirs(out_dd)

    rules = _e2e_quality_rules()
    q1 = stream_quality_filter(
        spark.readStream.schema(schema).json(str(src)),
        "doc_id", out_qf, rules, audit_path=audit,
        checkpoint=str(tmp_path / "ck1"))
    q2 = stream_dedup_against_index(
        spark.readStream.schema(schema)
             .option("recursiveFileLookup", "true").parquet(out_qf),
        ["text"], "doc_id", out_dd, dd_idx,
        checkpoint=str(tmp_path / "ck2"))
    surv_stream = (spark.readStream.schema(schema)
                        .option("recursiveFileLookup", "true")
                        .parquet(out_dd))
    q3 = stream_bm25_index_add(surv_stream.select("doc_id", "text"),
                               bm_idx, checkpoint=str(tmp_path / "ck3"))
    q4 = stream_ivfpq_index_add(
        spark.readStream.schema(schema)
             .option("recursiveFileLookup", "true").parquet(out_dd)
             .select("doc_id", "embedding"),
        pq_idx, checkpoint=str(tmp_path / "ck4"))
    queries = [q1, q2, q3, q4]

    def drain():
        for q in queries:           # topological order
            q.processAllAvailable()

    junk = "zzz zzz zzz zzz zzz zzz zzz zzz"
    rows_b1 = [
        (100, "the cat sat on the mat and purred all day", vec(100)),
        (101, junk, vec(101)),                        # fails quality_lr
        (102, "short one", vec(102)),                 # fails min_tokens
        (103, "the dog dug in the garden near the old oak", vec(103)),
        (104, "the dog dug in the garden near the old oak", vec(104)),
    ]                                # 104: intra-batch duplicate of 103
    rows_b2 = [
        (200, "the cat sat on the mat and purred all day", vec(200)),
        (201, "a bright moon rises over the calm silver lake", vec(201)),
    ]                                # 200: cross-batch duplicate of 100
    try:
        _write_batch(src, "b1.ndjson",
                     [{"doc_id": i, "text": t, "embedding": v}
                      for i, t, v in rows_b1])
        drain()
        _write_batch(src, "b2.ndjson",
                     [{"doc_id": i, "text": t, "embedding": v}
                      for i, t, v in rows_b2])
        drain()

        # --- batch reference over the SAME raw rows ----------------
        raw = spark.createDataFrame(rows_b1 + rows_b2, schema)
        keep = F.lit(True)
        for r in rules.values():
            keep = keep & r
        surv = exact_keep_first(raw.where(keep), ["text"], "doc_id")
        surv_rows = sorted((r["doc_id"], r["text"]) for r in surv.collect())
        assert surv_rows == [
            (100, rows_b1[0][1]), (103, rows_b1[3][1]),
            (201, rows_b2[1][1])]
        got = sorted((r["doc_id"], r["text"]) for r in
                     RSO(spark, out_dd).collect())
        assert got == surv_rows      # streamed survivors == batch ref

        # the audit funnel saw both failing rules fire
        a = {r["batch_id"]: r for r in RSO(spark, audit).collect()}
        assert a[0]["fail_quality_lr"] >= 1
        assert a[0]["fail_min_tokens"] >= 1
        assert (a[0]["n_in"], a[1]["n_in"]) == (5, 2)

        # --- served indexes bit-equal batch rebuilds ---------------
        qlist = [(1, "quick brown dog"), (2, "calm silver moon")]
        bm_ref = str(tmp_path / "e2e-bm25-ref")
        quality.build_bm25_index(
            spark.createDataFrame(
                base_docs + [(i, t) for i, t in surv_rows],
                "doc_id long, text string"),
            "doc_id", "text", bm_ref, nbuckets=8)
        assert [tuple(r) for r in
                quality.bm25_index_topk(spark, bm_idx, qlist, k=5)
                       .orderBy("q_id", "rank").collect()] == \
               [tuple(r) for r in
                quality.bm25_index_topk(spark, bm_ref, qlist, k=5)
                       .orderBy("q_id", "rank").collect()]

        pq_ref = str(tmp_path / "e2e-ivfpq-ref")
        similarity.build_ivfpq_index(base_vecs, "embedding", pq_ref,
                                     id_col="doc_id", nlist=4, m=4,
                                     kcb=4)
        similarity.ivfpq_index_add(
            spark.createDataFrame(
                [(i, vec(i)) for i, _t in surv_rows],
                "doc_id long, embedding array<double>"),
            pq_ref)
        qv = vec(5)
        assert [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, pq_idx, qv, k=6,
                                            nprobe=4).collect()] == \
               [tuple(r) for r in
                similarity.ivfpq_index_topk(spark, pq_ref, qv, k=6,
                                            nprobe=4).collect()]
    finally:
        for q in queries:
            q.stop()


def test_stream_dedup_index_auto_compacts(spark, tmp_path, monkeypatch):
    """A long-running leg must keep its index under the piece budget
    without caller involvement: with the ingest threshold shrunk,
    batches trigger the in-lock fold (watermark advances, piece
    count bounded) and cross-batch dedup keeps working through it."""
    import sybil_spark.sources.ingest as ing
    from sybil_spark.streaming.ingest_stream import (
        _dataset_pieces, _read_fold_watermark,
        stream_dedup_against_index)

    monkeypatch.setattr(ing, "FILE_DIGEST_THRESHOLD", 2)
    src = tmp_path / "ac-in"
    src.mkdir()
    out = str(tmp_path / "ac-out")
    idx = str(tmp_path / "ac-idx")
    doc_schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_dedup_against_index(stream, ["text"], "doc_id",
                                   out, idx)
    try:
        for b in range(6):
            _write_batch(src, f"b{b}.ndjson",
                         [{"doc_id": 100 * b, "text": f"doc {b}"},
                          {"doc_id": 100 * b + 1, "text": "dup text"}])
            q.processAllAvailable()
            assert len(_dataset_pieces(idx)) <= 3, b
        assert _read_fold_watermark(idx) >= 0       # folds happened
        # the duplicate survived exactly once, through every fold
        got = sorted(r["doc_id"] for r in RSO(spark, out).collect())
        assert got == [0, 1, 100, 200, 300, 400, 500]
    finally:
        q.stop()


def test_stream_bm25_index_add_auto_compacts(spark, tmp_path,
                                             monkeypatch):
    """With the ingest threshold shrunk, a continuous BM25 stream
    folds its own batch dirs inside write_batch's lock hold; serving
    stays bit-equal to a full rebuild at every step."""
    import sybil_spark.sources.ingest as ing
    from sybil_spark.operators import quality
    from sybil_spark.streaming.ingest_stream import stream_bm25_index_add

    monkeypatch.setattr(ing, "FILE_DIGEST_THRESHOLD", 1)
    base_rows = [(0, "the quick brown fox"), (1, "a slow green sun")]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    idx = str(tmp_path / "sbm25auto")
    quality.build_bm25_index(base, "doc_id", "text", idx, nbuckets=4)
    src = tmp_path / "bma-in"
    src.mkdir()
    doc_schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
    stream = spark.readStream.schema(doc_schema).json(str(src))
    q = stream_bm25_index_add(stream, idx)
    qlist = [(1, "quick brown")]
    extra = []
    try:
        for b in range(4):
            extra.append((100 + b, f"quick extra number{b} brown"))
            _write_batch(src, f"b{b}.ndjson",
                         [{"doc_id": extra[-1][0],
                           "text": extra[-1][1]}])
            q.processAllAvailable()
            assert len(quality._bm25_pending_state(idx)[0]) <= 2, b
            full = str(tmp_path / f"bmref{b}")
            quality.build_bm25_index(
                base.unionByName(spark.createDataFrame(
                    extra, "doc_id long, text string")),
                "doc_id", "text", full, nbuckets=4)
            a = [tuple(r) for r in
                 quality.bm25_index_topk(spark, idx, qlist, k=5)
                        .orderBy("q_id", "rank").collect()]
            e = [tuple(r) for r in
                 quality.bm25_index_topk(spark, full, qlist, k=5)
                        .orderBy("q_id", "rank").collect()]
            assert a == e, b
        meta = json.load(open(f"{idx}/bm25_meta.json"))
        assert meta["stream_fold_watermark"] >= 0    # folds ran
    finally:
        q.stop()


def test_stream_ivfpq_index_add_auto_compacts(spark, tmp_path,
                                              monkeypatch):
    """Same contract for the vector leg: batch dirs fold themselves
    under the stream's own lock, serving unchanged."""
    import os

    import sybil_spark.sources.ingest as ing
    from pyspark.sql.types import ArrayType, DoubleType
    from sybil_spark.operators import similarity
    from sybil_spark.streaming.ingest_stream import stream_ivfpq_index_add

    monkeypatch.setattr(ing, "FILE_DIGEST_THRESHOLD", 1)
    dim = 8

    def vec(i):
        return [float((i * 7 + j * 3) % 13 + 1) for j in range(dim)]

    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(24)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding",
                                ArrayType(DoubleType()))]))
    idx = str(tmp_path / "sivfpqauto")
    similarity.build_ivfpq_index(base, "embedding", idx,
                                 nlist=4, m=4, kcb=4)
    src = tmp_path / "pqa-in"
    src.mkdir()
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_ivfpq_index_add(stream, idx)
    added = []
    try:
        for b in range(4):
            added.append((100 + b, vec(100 + b)))
            _write_batch(src, f"b{b}.ndjson",
                         [{"vec_id": added[-1][0],
                           "embedding": added[-1][1]}])
            q.processAllAvailable()
            assert len(similarity._ivfpq_stream_batches(idx)) <= 2, b
        # at least one fold ran and serving equals a batch-add ref
        meta = json.load(open(f"{idx}/ivfpq_meta.json"))
        assert meta["stream_fold_watermark"] >= 0
        ref = str(tmp_path / "pqaref")
        similarity.build_ivfpq_index(base, "embedding", ref,
                                     nlist=4, m=4, kcb=4)
        similarity.ivfpq_index_add(
            spark.createDataFrame(added, schema), ref)
        qv = vec(5)
        a = [tuple(r) for r in
             similarity.ivfpq_index_topk(spark, idx, qv, k=6,
                                         nprobe=4).collect()]
        e = [tuple(r) for r in
             similarity.ivfpq_index_topk(spark, ref, qv, k=6,
                                         nprobe=4).collect()]
        assert a == e
    finally:
        q.stop()
