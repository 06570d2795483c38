"""Unigram-LM tokenizer (operators/unigram.py) vs pure-python
references.

The train loop is iterative (each EM round depends on the previous
segmentation) so, like BPE's merge loop, its value guarantee lives
here rather than in a SQL oracle: the Viterbi DP is fuzzed against
an exhaustive-enumeration reference (score optimality + piece-count
minimality among optima), train invariants (size budget, char
coverage, logprob normalization) are pinned, and the distributed
apply is checked bit-equal to driver-side _viterbi. The
SQL-expressible pieces — seed candidate counts and fixed-vocab apply
— carry full oracle rows in corpus.py (unigram_seed,
unigram_apply, unigram_fertility).
"""

import math
from itertools import combinations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from sybil_spark.operators.unigram import (
    _viterbi, piece_candidates, unigram_apply, unigram_train)


# ---------------------------------------------------------------- reference

def enum_segmentations(word, vocab):
    """All full segmentations of `word` into vocab pieces, as
    (score, n_pieces, pieces) — exponential, test-sized words only."""
    n = len(word)
    out = []
    for k in range(n):                      # k = number of cut points
        for cuts in combinations(range(1, n), k):
            bounds = (0,) + cuts + (n,)
            pieces = [word[bounds[i]:bounds[i + 1]]
                      for i in range(len(bounds) - 1)]
            if all(p in vocab for p in pieces):
                out.append((sum(vocab[p] for p in pieces),
                            len(pieces), pieces))
    return out


VOCAB_ST = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=3),
    st.sampled_from([-0.5, -1.0, -1.5, -2.0, -2.5, -3.0, -4.0]),
    min_size=1, max_size=12)


@given(word=st.text(alphabet="abc", min_size=1, max_size=7),
       vocab=VOCAB_ST)
@settings(max_examples=200, deadline=None)
def test_viterbi_fuzz_optimal(word, vocab):
    maxlen = max(len(p) for p in vocab)
    pieces, score, ok = _viterbi(word, vocab, maxlen)
    segs = enum_segmentations(word, vocab)
    if not segs:
        assert not ok and pieces == [word]
        return
    assert ok
    assert "".join(pieces) == word
    best_score = max(s for s, _n, _p in segs)
    assert score == best_score          # dyadic sums: exact compare
    # among max-score segmentations, the DP returns minimal pieces
    best_np = min(n for s, n, _p in segs if s == best_score)
    assert len(pieces) == best_np
    # deterministic: the returned segmentation is one of the optima
    assert (score, len(pieces), pieces) in segs


def test_viterbi_tie_rules():
    # score tie, np differs -> fewer pieces
    v = {"s": -8.0, "l": -8.0, "o": -8.0, "w": -8.0,
         "sl": -4.0, "ow": -4.0, "slow": -8.0}
    assert _viterbi("slow", v, 4)[0] == ["slow"]
    # score and np tie -> longer LAST piece (earlier last start)
    v = {"b": -8.0, "i": -8.0, "g": -8.0, "bi": -4.0, "ig": -4.0}
    assert _viterbi("big", v, 2)[0] == ["b", "ig"]


def test_viterbi_unsegmentable_fallback():
    assert _viterbi("axe", {"a": -1.0, "e": -1.0}, 1) == \
        (["axe"], 0.0, False)


# ---------------------------------------------------------------- operators

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_piece_candidates_counts(spark):
    df = _docs(spark, ["ab ab b", "ab"])
    rows = {r["piece"]: r["freq"]
            for r in piece_candidates(df, "text", 8).collect()}
    # "ab" x3, "a" x3, "b" x4 (3 from "ab" + 1 standalone)
    assert rows == {"ab": 3, "a": 3, "b": 4}


def test_unigram_train_invariants(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = unigram_train(df, "text", vocab_size=40, n_iters=2)
    assert 0 < len(vocab) <= 40 + 30   # chars never dropped; budget
    pieces = [p for p, _ in vocab]
    assert len(set(pieces)) == len(pieces)
    assert all(lp < 0 for _, lp in vocab)
    # normalization: kept-piece probs sum to ~1 (unused chars ride
    # at a 0.5 pseudo-count above the normalizer, so not exactly 1)
    assert abs(sum(math.exp(lp) for _, lp in vocab) - 1.0) < 1e-3
    # multi-char budget respected (chars ride outside it)
    n_chars = sum(1 for p in pieces if len(p) == 1)
    assert sum(1 for p in pieces if len(p) > 1) <= max(0, 40 - n_chars)


def test_unigram_apply_matches_driver_viterbi(spark):
    texts = ["the big slow scan", "slow slow big", "", "b ig the"]
    vocab = [("t", -8.0), ("h", -8.0), ("e", -8.0), ("b", -8.0),
             ("i", -8.0), ("g", -8.0), ("s", -8.0), ("l", -8.0),
             ("o", -8.0), ("w", -8.0), ("c", -8.0), ("a", -8.0),
             ("n", -8.0), ("the", -2.0), ("bi", -4.0), ("ig", -4.0),
             ("sl", -4.0), ("ow", -4.0), ("slow", -8.0),
             ("scan", -2.5)]
    voc = dict(vocab)
    maxlen = max(len(p) for p in voc)
    got = {r["doc_id"]: (r["pieces"], r["n_pieces"])
           for r in unigram_apply(_docs(spark, texts), "doc_id",
                                  "text", vocab).collect()}
    for i, t in enumerate(texts):
        exp = []
        for w in t.split(" "):
            if w:
                exp.extend(_viterbi(w, voc, maxlen)[0])
        assert got[i] == (exp, len(exp)), (i, t)


@given(texts=st.lists(st.text(alphabet="abc ", max_size=24),
                      min_size=1, max_size=6),
       vocab=VOCAB_ST)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_unigram_apply_fuzz(spark, texts, vocab):
    chars = {c: -8.0 for t in texts for c in t if c != " "}
    voc = dict(vocab)
    voc.update({c: lp for c, lp in chars.items() if c not in voc})
    if not voc:
        voc = {"a": -1.0}
    vlist = sorted(voc.items())
    maxlen = max(len(p) for p in voc)
    got = {r["doc_id"]: r["pieces"]
           for r in unigram_apply(_docs(spark, texts), "doc_id",
                                  "text", vlist).collect()}
    for i, t in enumerate(texts):
        exp = []
        for w in t.split(" "):
            if w:
                exp.extend(_viterbi(w, voc, maxlen)[0])
        assert got[i] == exp


def test_unigram_apply_plan_single_arrow_pass(spark):
    """Vocab size must not leak into the plan: ONE ArrowEvalPython
    node, no shuffle — the shared tokenizer-apply contract."""
    df = _docs(spark, ["the big"])
    vocab = [(f"a{i:03d}"[:3], -4.0) for i in range(500)] + \
        [("a", -8.0)]
    plan = unigram_apply(df, "doc_id", "text", sorted(set(vocab))) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan


def test_fertility_report_accepts_either_tokenizer(spark, sf_dir):
    from sybil_spark.operators import bpe
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = [(c, -8.0) for c in "abcdefghijklmnopqrstuvwxyz"] + \
        [("the", -2.0), ("scan", -2.5)]
    r = bpe.fertility_report(df, "doc_id", "text", None, "lang",
                             unigram_vocab=sorted(vocab)).collect()
    assert r and all(row["fertility"] > 0 for row in r)
    with pytest.raises(ValueError, match="exactly one"):
        bpe.fertility_report(df, "doc_id", "text", None, "lang")
    with pytest.raises(ValueError, match="exactly one"):
        bpe.fertility_report(df, "doc_id", "text",
                             [(0, "t", "h", 0)], "lang",
                             unigram_vocab=vocab)
