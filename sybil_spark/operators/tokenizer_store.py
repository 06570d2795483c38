"""Persisted tokenizer artifacts: save/load/apply for the three
tokenizer families (BPE merges, unigram-LM vocab, WordPiece vocab).

Training is expensive (a corpus scan plus the iterative loop);
applying is the everyday operation — so the trained artifact needs
the same persisted-index treatment as BM25/IVF: one JSON file with a
format version (the bm25_meta lesson: readers must refuse artifacts
they cannot interpret with a clear 'rebuild required' error, never an
opaque downstream failure), published atomically (sources/commit) so a crash
can never leave a half-written tokenizer where a serving job would
load it.

The artifact is deliberately a single small JSON file, not a
dataset: even a 32k-merge BPE or a 100k-piece vocabulary is ~1-3 MB —
driver-loadable and broadcastable, which is exactly how the one
apply path (`_encode_pieces`) consumes it. `apply_tokenizer`
dispatches a loaded (or given) artifact to the right encoder, so
downstream consumers can take a PATH where they now take
family-specific rule lists."""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves the pandas_udf type hints

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sybil_spark.functions.text import tokenize_str
from sybil_spark.sources import commit

#: bump when the payload shapes change; loaders refuse newer formats
TOKENIZER_FORMAT = 1

_KINDS = ("bpe", "unigram", "wordpiece")


def _encode_pieces(df: DataFrame, id_col: str, text_col: str, bc,
                   encode_word: Callable[..., list],
                   pattern: str | None = None,
                   pieces_col: str = "pieces",
                   keep_cols: list | None = None) -> DataFrame:
    """The one tokenizer-apply path: (id_col, *keep_cols, pieces
    array<string>, n_pieces) over `df`, shared by bpe_apply,
    unigram_apply, wordpiece_apply and unigram_train's e-step.

    ONE Arrow-batched pandas UDF — a single ArrowEvalPython node over
    the scan however large the tokenizer (its size changes the
    broadcast, never the plan). Per Arrow batch, each text is split
    by `functions.text.tokenize_str` (the same splitter as the
    `tokens()` column), empty words are dropped, and each DISTINCT
    word is encoded once as `encode_word(word, *bc.value)` (Zipf:
    most tokens are repeats) — the broadcast holds the tuple of the
    encoder's remaining arguments; the caller makes it and owns its
    lifetime. NULL text gives NULL pieces. Zero shuffle,
    map-only: the 100 TB cost is executor-linear."""
    @pandas_udf("array<string>")
    def encode_series(texts: pd.Series) -> pd.Series:
        args = bc.value
        cache: dict = {}

        def enc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in tokenize_str(t, pattern):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    hit = cache[w] = encode_word(w, *args)
                out.extend(hit)
            return out

        return texts.map(enc)

    extra = [F.col(c) for c in (keep_cols or [])]
    return (df.select(F.col(id_col), *extra,
                      encode_series(F.col(text_col)).alias(pieces_col))
              .withColumn("n_pieces", F.size(F.col(pieces_col))))


def save_tokenizer(path: str, kind: str, data, meta: dict | None = None
                   ) -> None:
    """Persist a trained tokenizer. `data` by kind:
    bpe       -> [(rank, left, right, freq), ...]   (bpe_train)
    unigram   -> [(piece, logprob), ...]            (unigram_train)
    wordpiece -> [piece, ...]                       (wordpiece_train)
    `meta` is free-form provenance (corpus, date, sizes) stored
    verbatim. Commit is commit.write_json's tmp-write + rename."""
    if kind not in _KINDS:
        raise ValueError(f"save_tokenizer: unknown kind {kind!r}")
    if kind == "bpe":
        payload = [[int(a), b, c, int(d)] for a, b, c, d in data]
    elif kind == "unigram":
        payload = [[p, float(lp)] for p, lp in data]
    else:
        payload = [str(p) for p in data]
    doc = {"format": TOKENIZER_FORMAT, "kind": kind,
           "data": payload, "meta": meta or {}}
    commit.write_json(path, doc)


def load_tokenizer(path: str) -> dict:
    """Load a persisted tokenizer -> {kind, data, meta}. Raises a
    clear rebuild-required error on a newer/unknown format instead
    of letting a shape mismatch surface downstream."""
    doc = commit.read_json(path)
    fmt = int(doc.get("format", -1))
    if fmt > TOKENIZER_FORMAT or doc.get("kind") not in _KINDS:
        raise ValueError(
            f"load_tokenizer: {path} has format {fmt} / kind "
            f"{doc.get('kind')!r}; this build reads format "
            f"<= {TOKENIZER_FORMAT} — retrain or upgrade")
    kind, data = doc["kind"], doc["data"]
    if kind == "bpe":
        data = [(int(a), b, c, int(d)) for a, b, c, d in data]
    elif kind == "unigram":
        data = [(p, float(lp)) for p, lp in data]
    return {"kind": kind, "data": data, "meta": doc.get("meta", {})}


def apply_tokenizer(df: DataFrame, id_col: str, text_col: str,
                    tokenizer: str | dict,
                    pattern: str | None = None,
                    pieces_col: str = "pieces",
                    keep_cols: list | None = None) -> DataFrame:
    """Encode `df` under a persisted tokenizer (a path or a loaded
    {kind, data} dict): dispatches to bpe_apply / unigram_apply /
    wordpiece_apply — all three share the (id, pieces, n_pieces)
    output contract, so callers are tokenizer-family-agnostic."""
    art = load_tokenizer(tokenizer) if isinstance(tokenizer, str) \
        else tokenizer
    kind, data = art["kind"], art["data"]
    if kind == "bpe":
        from sybil_spark.operators.bpe import bpe_apply
        return bpe_apply(df, id_col, text_col, data, pattern=pattern,
                         pieces_col=pieces_col, keep_cols=keep_cols)
    if kind == "unigram":
        from sybil_spark.operators.unigram import unigram_apply
        return unigram_apply(df, id_col, text_col, data,
                             pattern=pattern, pieces_col=pieces_col,
                             keep_cols=keep_cols)
    if kind == "wordpiece":
        from sybil_spark.operators.wordpiece import wordpiece_apply
        return wordpiece_apply(df, id_col, text_col, data,
                               pattern=pattern, pieces_col=pieces_col,
                               keep_cols=keep_cols)
    raise ValueError(f"apply_tokenizer: unknown kind {kind!r}")
