"""WordPiece tokenizer (operators/wordpiece.py) vs pure-python
references.

Like BPE and the unigram LM, the train loop is iterative so its value
guarantee lives here rather than in a SQL oracle: the full trainer is
fuzzed against a pure-python reference (identical score arithmetic
and tie rules), the greedy maximum-munch apply is checked bit-equal
to the driver-side matcher, and invariants (continuation prefixes,
merged-symbol membership, rank order) are pinned. The SQL-expressible
pieces — iteration-zero pair scores and fixed-vocab apply — carry
full oracle rows in corpus.py (wordpiece_pairs, wordpiece_apply,
wordpiece_fertility)."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from sybil_spark.operators.wordpiece import (
    _match_word, wordpiece_apply, wordpiece_pair_scores,
    wordpiece_train)


# ---------------------------------------------------------------- reference

def ref_train(texts, num_merges, min_freq=2):
    """Pure-python WordPiece trainer with the module's exact
    arithmetic: score = freq / float(cl*cr) (exact ints, one IEEE
    division), argmax (score desc, freq desc, l, r), merge = greedy
    left-to-right non-overlapping, merged symbol keeps only the
    left side's '##'."""
    wc: dict = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    vocab = {tuple([w[0]] + ["##" + c for c in w[1:]]): c
             for w, c in _agg(wc).items()}
    merges = []
    while len(merges) < num_merges:
        pairs: dict = {}
        syms: dict = {}
        for sy, c in vocab.items():
            for s in sy:
                syms[s] = syms.get(s, 0) + c
            for a, b in zip(sy, sy[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        best = None
        for (a, b), f in pairs.items():
            if f < min_freq:
                continue
            score = float(f) / float(syms[a] * syms[b])
            key = (-score, -f, a, b)
            if best is None or key < best[0]:
                best = (key, a, b, f)
        if best is None:
            break
        _, l, r, f = best
        merges.append((len(merges), l, r, f))
        merged = l + (r[2:] if r.startswith("##") else r)
        new_vocab: dict = {}
        for sy, c in vocab.items():
            out, i = [], 0
            while i < len(sy):
                if i + 1 < len(sy) and sy[i] == l and sy[i + 1] == r:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sy[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + c
        vocab = new_vocab
    pieces = sorted({s for sy in vocab for s in sy})
    return merges, pieces


def _agg(wc):
    out: dict = {}
    for w, c in wc.items():
        out[w] = out.get(w, 0) + c
    return out


# ---------------------------------------------------------------- matcher

VOC = frozenset(
    ["a", "b", "c", "ab", "abc",
     "##a", "##b", "##c", "##bc", "##cc"])


def test_match_word_semantics():
    # longest match first, continuation prefix after position 0
    assert _match_word("abc", VOC, "[UNK]", 100) == ["abc"]
    assert _match_word("abcc", VOC, "[UNK]", 100) == ["abc", "##c"]
    assert _match_word("aab", VOC, "[UNK]", 100) == ["a", "##a", "##b"]
    # a mid-word failure UNKs the WHOLE word (HF semantics)
    assert _match_word("abx", VOC, "[UNK]", 100) == ["[UNK]"]
    assert _match_word("xab", VOC, "[UNK]", 100) == ["[UNK]"]
    # greedy != optimal is accepted behavior: "abcc" -> abc + ##c,
    # never ab + ##cc, even if some scoring would prefer the latter
    assert _match_word("abcc", VOC, "[UNK]", 100) != ["ab", "##cc"]
    # long-word guard
    assert _match_word("a" * 101, VOC, "[UNK]", 100) == ["[UNK]"]
    assert _match_word("a" * 100, VOC, "[UNK]", 100)[0] == "a"


def test_match_word_consumes_whole_word_fuzzless():
    for w in ["a", "ab", "abc", "abcabc", "cba", "bbb"]:
        got = _match_word(w, VOC, "[UNK]", 100)
        if got != ["[UNK]"]:
            rebuilt = got[0] + "".join(p[2:] for p in got[1:])
            assert rebuilt == w
            assert all(p.startswith("##") for p in got[1:])
            assert not got[0].startswith("##")


# ---------------------------------------------------------------- operators

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_wordpiece_pair_scores_hand_computed(spark):
    # corpus: "ab ab b" + "ab" -> words ab x3, b x1
    # symbols: a x3, ##b x3, b x1; pairs: (a,##b) x3
    # ln score = ln(3) - ln(3) - ln(3) = -ln(3)
    import math
    from decimal import Decimal

    df = _docs(spark, ["ab ab b", "ab"])
    rows = wordpiece_pair_scores(df, "text", top_n=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["l"], r["r"], r["freq"]) == ("a", "##b", 3)
    want = float(Decimal(-math.log(3.0)).quantize(Decimal("0.000001")))
    assert r["score"] == want


def test_wordpiece_train_matches_reference(spark):
    texts = ["the the them then", "hat that the", "ten hen then"]
    got_m, got_v = wordpiece_train(_docs(spark, texts), "text",
                                   num_merges=6, min_freq=2)
    exp_m, exp_v = ref_train(texts, 6, min_freq=2)
    assert got_m == exp_m
    assert got_v == exp_v
    # merged symbols carry the left side's prefix only
    for _rank, l, r, _f in got_m:
        assert (l + (r[2:] if r.startswith("##") else r)) in got_v


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=16),
    min_size=1, max_size=5),
    n=st.integers(min_value=1, max_value=5))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_wordpiece_train_fuzz(spark, texts, n):
    if not any(w for t in texts for w in t.split(" ") if w):
        return
    got_m, got_v = wordpiece_train(_docs(spark, texts), "text",
                                   num_merges=n, min_freq=1)
    exp_m, exp_v = ref_train(texts, n, min_freq=1)
    assert got_m == exp_m
    assert got_v == exp_v


def test_wordpiece_apply_matches_driver_matcher(spark):
    texts = ["abc abcc aab", "abx  b", "", "c" * 120]
    vocab = sorted(VOC)
    got = {r["doc_id"]: (r["pieces"], r["n_pieces"])
           for r in wordpiece_apply(_docs(spark, texts), "doc_id",
                                    "text", vocab).collect()}
    for i, t in enumerate(texts):
        exp = []
        for w in t.split(" "):
            if w:
                exp.extend(_match_word(w, VOC, "[UNK]", 100))
        assert got[i] == (exp, len(exp)), (i, t)


@given(texts=st.lists(st.text(alphabet="abc ", max_size=20),
                      min_size=1, max_size=5),
       extra=st.lists(st.text(alphabet="abc", min_size=2, max_size=4),
                      max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_wordpiece_apply_fuzz(spark, texts, extra):
    voc = set(VOC) | {p for p in extra} | {"##" + p for p in extra}
    vocab = sorted(voc)
    got = {r["doc_id"]: r["pieces"]
           for r in wordpiece_apply(_docs(spark, texts), "doc_id",
                                    "text", vocab).collect()}
    fv = frozenset(voc)
    for i, t in enumerate(texts):
        exp = []
        for w in t.split(" "):
            if w:
                exp.extend(_match_word(w, fv, "[UNK]", 100))
        assert got[i] == exp


def test_wordpiece_apply_plan_single_arrow_pass(spark):
    """Vocab size must not leak into the plan: ONE ArrowEvalPython
    node, no shuffle — the shared tokenizer-apply contract."""
    df = _docs(spark, ["abc ab"])
    vocab = sorted(set([f"p{i:04d}" for i in range(2000)]) | VOC)
    plan = wordpiece_apply(df, "doc_id", "text", vocab) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan


def test_wordpiece_apply_empty_vocab_raises(spark):
    with pytest.raises(ValueError, match="empty vocab"):
        wordpiece_apply(_docs(spark, ["a"]), "doc_id", "text", [])


def test_fertility_report_accepts_wordpiece(spark, sf_dir):
    from sybil_spark.operators import bpe
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = sorted(set("abcdefghijklmnopqrstuvwxyz")
                   | {"##" + c for c in "abcdefghijklmnopqrstuvwxyz"}
                   | {"the", "##he", "scan", "##an"})
    r = bpe.fertility_report(df, "doc_id", "text", None, "lang",
                             wordpiece_vocab=vocab).collect()
    assert r and all(row["fertility"] > 0 for row in r)
    with pytest.raises(ValueError, match="exactly one"):
        bpe.fertility_report(df, "doc_id", "text", None, "lang",
                             unigram_vocab=[("a", -1.0)],
                             wordpiece_vocab=vocab)


def test_unk_rate_report(spark):
    from sybil_spark.operators.wordpiece import unk_rate_report
    df = spark.createDataFrame(
        [(0, "en", "abc ab a"),          # all segmentable
         (1, "en", "abc zq"),            # 1 unk of 2
         (2, "de", "zz zz zz")],         # all unk (z not in VOC)
        "doc_id long, lang string, text string")
    got = {r["lang"]: (r["n_docs"], r["n_words"], r["n_unk"],
                       r["unk_rate"])
           for r in unk_rate_report(df, "doc_id", "text",
                                    sorted(VOC), "lang").collect()}
    assert got == {"en": (2, 5, 1, 0.2), "de": (1, 3, 3, 1.0)}


def test_tokenizer_store_roundtrip_and_dispatch(spark, tmp_path):
    """save/load round-trips all three families; apply_tokenizer
    dispatch is bit-equal to the direct applies; format guard
    refuses artifacts from the future with a rebuild message."""
    import json

    import pytest as _pytest

    from sybil_spark.operators.tokenizer_store import (
        apply_tokenizer, load_tokenizer, save_tokenizer)

    df = _docs(spark, ["abc abcc", "the big"])
    arts = {
        "bpe": [(0, "t", "h", 5), (1, "th", "e", 4)],
        "unigram": [("a", -8.0), ("b", -8.0), ("c", -8.0),
                    ("t", -8.0), ("h", -8.0), ("e", -8.0),
                    ("i", -8.0), ("g", -8.0), ("the", -2.0)],
        "wordpiece": sorted(VOC),
    }
    for kind, data in arts.items():
        p = str(tmp_path / f"tok-{kind}.json")
        save_tokenizer(p, kind, data, meta={"corpus": "unit"})
        art = load_tokenizer(p)
        assert art["kind"] == kind and art["data"] == data
        assert art["meta"] == {"corpus": "unit"}
        got = [tuple(r) for r in
               apply_tokenizer(df, "doc_id", "text", p)
               .orderBy("doc_id").collect()]
        if kind == "bpe":
            from sybil_spark.operators.bpe import bpe_apply
            ref = bpe_apply(df, "doc_id", "text", data)
        elif kind == "unigram":
            from sybil_spark.operators.unigram import unigram_apply
            ref = unigram_apply(df, "doc_id", "text", data)
        else:
            ref = wordpiece_apply(df, "doc_id", "text", data)
        assert got == [tuple(r) for r in ref.orderBy("doc_id").collect()]
    # future format -> clear rebuild-required error
    p = str(tmp_path / "tok-future.json")
    with open(p, "w") as f:
        json.dump({"format": 99, "kind": "bpe", "data": []}, f)
    with _pytest.raises(ValueError, match="retrain or upgrade"):
        load_tokenizer(p)
    with _pytest.raises(ValueError, match="unknown kind"):
        save_tokenizer(str(tmp_path / "x.json"), "sentencepiece", [])
    # no half-written artifact is ever visible
    assert not [x for x in tmp_path.iterdir()
                if ".tmp-" in x.name]
