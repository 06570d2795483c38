"""Seeded input generator for the benchmark.

Writes sf-scaled parquet tables shaped like the corpus testdata
(`events`, `documents`, `embeddings`, `lineitem`, `orders`,
`customer`), and sybil-shaped NDJSON batches for the ingest workload.
The same seed and scale always give byte-identical inputs; nothing
here touches Spark, so generation is not part of any measured time.

Row counts at scale `sf` follow the testdata: events 1e6*sf,
documents 5e4*sf, embeddings 2e4*sf, lineitem 6e6*sf, orders
1.5e6*sf, customer 1.5e5*sf (floors keep sf0.001 usable).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _rows(sf: float, per_sf: float, floor: int) -> int:
    return max(floor, int(round(per_sf * sf)))


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng, start: dt.datetime, n_days: int, n: int) -> pa.Array:
    return _ts_us(start, rng.integers(0, n_days, n) * _US_PER_DAY)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, sf: float) -> pa.Table:
    n = _rows(sf, 1e6, 1000)
    span_us = 30 * _US_PER_DAY
    offs = np.sort(rng.integers(0, span_us, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us(dt.datetime(2024, 1, 1), offs),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {x}}}' for x in k],
    })


def documents(rng, sf: float) -> pa.Table:
    """Random-word documents of 10-100 words; 5 % are near copies of an
    earlier document (one extra word) and a few are exact copies, so
    the dedup operators always have something to find."""
    n = _rows(sf, 5e4, 200)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    n_near, n_exact = n // 20, max(2, n // 600)
    copies = rng.choice(np.arange(n // 2, n), n_near + n_exact, replace=False)
    for j, i in enumerate(copies):
        src = texts[int(rng.integers(0, n // 2))]
        texts[i] = src + " dup" if j < n_near else src
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS[0])[rng.choice(5, n, p=LANGS[1])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, sf: float) -> pa.Table:
    n = _rows(sf, 2e4, 200)
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def lineitem(rng, sf: float, n_orders: int) -> pa.Table:
    n = _rows(sf, 6e6, 6000)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, _rows(sf, 2e5, 200), n),
        "l_suppkey": rng.integers(0, _rows(sf, 1e4, 10), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2499, n),
    })


def orders(rng, sf: float, n_cust: int) -> pa.Table:
    n = _rows(sf, 1.5e6, 1500)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2405, n),
        "o_orderpriority": np.array(prio)[rng.integers(0, 5, n)],
    })


def customer(rng, sf: float) -> pa.Table:
    n = _rows(sf, 1.5e5, 150)
    seg = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(seg)[rng.integers(0, 5, n)],
    })


def write_tables(out_dir: str, seed: int, sf: float,
                 names: tuple[str, ...]) -> None:
    """Write `<out_dir>/<name>.parquet` for each requested table. Every
    table draws from its own child stream of `seed`, so the set of
    tables requested does not change any table's contents."""
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(zip(
        ["events", "documents", "embeddings", "lineitem", "orders",
         "customer"],
        np.random.SeedSequence(seed).spawn(6)))
    n_orders = _rows(sf, 1.5e6, 1500)
    n_cust = _rows(sf, 1.5e5, 150)
    for name in names:
        rng = np.random.default_rng(streams[name])
        if name == "lineitem":
            t = lineitem(rng, sf, n_orders)
        elif name == "orders":
            t = orders(rng, sf, n_cust)
        else:
            t = {"events": events, "documents": documents,
                 "embeddings": embeddings, "customer": customer}[name](rng, sf)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


HOSTS = [f"host{i}" for i in range(8)]
PATHS = ["/", "/login", "/search", "/cart", "/api/v1/items", "/api/v1/users"]
STATUSES = [200, 200, 200, 200, 301, 404, 500]
TAGS = ["web", "api", "mobile", "beta", "canary"]


#: unix seconds of the first NDJSON record (2024-01-01 UTC)
NDJSON_T0 = 1_704_067_200


def ndjson_batch(out_dir: str, seed: int, index: int, rows: int) -> str:
    """Write batch `index` of the sybil-shaped NDJSON stream and return
    its path. Batch i covers hour i after NDJSON_T0 and depends only on
    (seed, index, rows). Each record has an int `time`, a random
    request id, string host/path, int status, float latency, a string-array `tags` and a
    nested `client` object, so every typing rule of sources/ingest.py
    runs (int, str, float truncation, set, flatten)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7, index]))
    times = NDJSON_T0 + index * 3600 + np.sort(rng.integers(0, 3600, rows))
    host = rng.integers(0, len(HOSTS), rows)
    path = rng.integers(0, len(PATHS), rows)
    status = rng.integers(0, len(STATUSES), rows)
    lat = np.round(rng.gamma(2.0, 40.0, rows), 3)
    tag_mask = rng.random((rows, len(TAGS))) < 0.3
    ver = rng.integers(1, 6, rows)
    req = rng.integers(0, 2**63, rows)
    p = os.path.join(out_dir, f"batch-{index:04d}.ndjson")
    with open(p, "w") as f:
        for i in range(rows):
            f.write(json.dumps({
                "time": int(times[i]), "req": f"{req[i]:016x}",
                "host": HOSTS[host[i]],
                "path": PATHS[path[i]], "status": STATUSES[status[i]],
                "latency": float(lat[i]),
                "tags": [t for t, m in zip(TAGS, tag_mask[i]) if m],
                "client": {"os": ["linux", "mac", "ios"][ver[i] % 3],
                           "ver": int(ver[i])},
            }) + "\n")
    return p
