"""BPE trainer/encoder vs a pure-python reference, plus the new
text-analysis operators (char_entropy, vocab_growth, zipf_fit,
cluster-safe splits).

The BPE merge loop is the one corpus operator whose oracle is
genuinely SQL-inexpressible (each merge depends on the argmax of the
previous rewrite), so its value-level guarantee lives HERE: a
hypothesis fuzz against a reference implementation of Sennrich-style
training (adjacent-pair counts weighted by word frequency, argmax
with (freq desc, left, right) tie-break, greedy left-to-right
non-overlapping merge application).
"""

import math
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F


# ---------------------------------------------------------------- reference

def py_merge(syms, l, r):
    out = []
    for x in syms:
        if out and out[-1] == l and x == r:
            out[-1] = l + r
        else:
            out.append(x)
    return out


def py_pairs(vocab):
    pc = Counter()
    for syms, cnt in vocab:
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += cnt
    return pc


def py_train(texts, n, min_freq=2):
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = [(list(w), c) for w, c in wc.items()]
    merges = []
    for rank in range(n):
        pc = py_pairs(vocab)
        if not pc:
            break
        (l, r), f = min(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if f < min_freq:
            break
        merges.append((rank, l, r, f))
        vocab = [(py_merge(s, l, r), c) for s, c in vocab]
    return merges


def py_encode(t, merges):
    out = []
    for w in t.split(" "):
        if not w:
            continue
        s = list(w)
        for _, l, r, _f in merges:
            s = py_merge(s, l, r)
        out.extend(s)
    return out


# ---------------------------------------------------------------- fixed cases

def test_bpe_train_matches_reference_fixed(spark):
    from sybil_spark.operators import bpe
    texts = ["the cat sat on the mat", "the cat ate the rat",
             "a cat and a rat and a mat", "thethe the t", "aaa aa a"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    assert bpe.bpe_train(df, "text", 10) == py_train(texts, 10)


def test_bpe_encode_matches_reference_fixed(spark):
    from sybil_spark.operators import bpe
    texts = ["the cat sat on the mat", "aaa aaaa a", "x", "",
             "thethe the t"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    merges = py_train(texts, 6)
    got = {r["doc_id"]: (list(r["pieces"]), r["n_pieces"])
           for r in bpe.bpe_apply(df, "doc_id", "text", merges).collect()}
    for i, t in enumerate(texts):
        exp = py_encode(t, merges)
        assert got[i] == (exp, len(exp)), (i, t, got[i], exp)


def test_bpe_overlapping_run_merge(spark):
    """'aaa' under rule (a,a) must become [aa, a] — greedy
    left-to-right NON-overlapping, the classic scan."""
    from sybil_spark.operators import bpe
    df = spark.createDataFrame([(0, "aaa aaaa aaaaa")], ["doc_id", "text"])
    got = bpe.bpe_apply(df, "doc_id", "text",
                        [(0, "a", "a", 9)]).collect()[0]
    assert list(got["pieces"]) == ["aa", "a", "aa", "aa", "aa", "aa", "a"]


bpe_texts_st = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24),
    min_size=1, max_size=8)


@given(texts=bpe_texts_st, n=st.integers(1, 6))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_encode_fuzz(spark, texts, n):
    from sybil_spark.operators import bpe
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    ref = py_train(texts, n)
    got = bpe.bpe_train(df, "text", n)
    assert got == ref
    enc = {r["doc_id"]: list(r["pieces"])
           for r in bpe.bpe_apply(df, "doc_id", "text", got).collect()}
    for i, t in enumerate(texts):
        assert enc[i] == py_encode(t, got), (i, t)


def test_bpe_pair_counts_matches_reference(spark):
    from sybil_spark.operators import bpe
    texts = ["abab abab ab", "ba baba", "ccc"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    ref = py_pairs([(list(w), c) for w, c in wc.items()])
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    got = [(r["l"], r["r"], r["freq"])
           for r in bpe.bpe_pair_counts(df, "text", top_n=5).collect()]
    assert got == [(l, r, f) for (l, r), f in top[:5]]


# ---------------------------------------------------------------- entropy

def _py_entropy(text):
    """Replicates char_entropy's quantization contract: per-term
    decimal(38,6) round-trip, fold in sorted-char order, final
    quantize."""
    from decimal import Decimal, ROUND_HALF_UP

    def q(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                                rounding=ROUND_HALF_UP))
    cs = sorted(text)
    if not cs:
        return 0.0
    s, run, prev = 0.0, 0, ""
    for x in cs:
        run = run + 1 if x == prev else 1
        prev = x
        if run >= 2:
            s += q(run * math.log(run) - (run - 1) * math.log(run - 1))
    n = len(cs)
    return q((math.log(n) - s / n) / 0.6931471805599453)


@pytest.mark.parametrize("text,expect", [
    ("aaaa", 0.0),                 # single symbol: zero entropy
    ("", 0.0),                     # empty: defined as zero
    ("abcd", 2.0),                 # 4 equiprobable symbols: 2 bits
    ("aabb", 1.0),
])
def test_char_entropy_known_values(spark, text, expect):
    from sybil_spark.functions.text import char_entropy
    df = spark.createDataFrame([(text,)], ["t"])
    got = df.select(char_entropy(F.col("t")).alias("h")).collect()[0]["h"]
    assert got == pytest.approx(expect, abs=2e-6)


@given(texts=st.lists(st.text(alphabet="abcxyz 01.", max_size=60),
                      min_size=1, max_size=12))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_char_entropy_fuzz(spark, texts):
    from sybil_spark.functions.text import char_entropy
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["i", "t"])
    got = {r["i"]: r["h"] for r in
           df.select("i", char_entropy(F.col("t")).alias("h")).collect()}
    for i, t in enumerate(texts):
        # quantization contract makes this near-exact; the tiny abs
        # slack covers double-vs-Decimal repr() edge rounding in the
        # python replica, not engine drift
        assert got[i] == pytest.approx(_py_entropy(t), abs=2e-6), (i, t)


# ---------------------------------------------------------------- growth/zipf

def test_vocab_growth_matches_prefix_distinct(spark):
    """The min-first-doc inversion equals the quadratic definition:
    vocab_cum at bucket b == |distinct tokens over docs with
    id div w <= b|."""
    from sybil_spark.operators.quality import vocab_growth
    texts = ["a b c", "a b", "d", "e a", "f f f", "g", "a", "h i"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    w = 3
    rows = {r["bucket"]: r for r in
            vocab_growth(df, "doc_id", "text", bucket_width=w).collect()}
    for b in rows:
        prefix = [t for i, t in enumerate(texts) if i // w <= b]
        toks = [x for t in prefix for x in t.split(" ")]
        assert rows[b]["docs_cum"] == len(prefix)
        assert rows[b]["tokens_cum"] == len(toks)
        assert rows[b]["vocab_cum"] == len(set(toks))


def test_zipf_fit_recovers_known_slope(spark):
    """Frequencies built as an exact power law freq = round(C/rank^s)
    must fit back close to -s."""
    import itertools
    s = 1.0
    C = 100000
    # synthesize a corpus whose token counts are exactly C/rank^s
    words = []
    for rank in range(1, 41):
        cnt = int(C / rank ** s)
        words.extend([f"w{rank:03d}"] * cnt)
    # chunk into documents
    docs, it = [], iter(words)
    while True:
        chunk = list(itertools.islice(it, 5000))
        if not chunk:
            break
        docs.append(" ".join(chunk))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               ["doc_id", "text"])
    from sybil_spark.operators.quality import zipf_fit
    row = zipf_fit(df, "text", top_n=40).collect()[0]
    assert row["n_terms"] == 40
    assert row["slope"] == pytest.approx(-s, abs=0.02)
    assert row["intercept"] == pytest.approx(math.log(C), abs=0.05)


# ------------------------------------------------------------- batched train

def test_bpe_train_batched_matches_sequential_fixed(spark):
    """batch_k > 1 must be bit-identical to the sequential loop —
    _safe_batch only admits merges whose greedy order is PROVEN from
    the collected pair table. Dense corpus with tie clusters and
    run-merges (the hazard cases: created pairs, symbol collisions,
    equal-freq tie-breaks)."""
    from sybil_spark.operators import bpe
    texts = ["the cat sat on the mat", "the cat ate the rat",
             "a cat and a rat and a mat", "thethe the t", "aaa aa a",
             "in the thin inn", "at the mat at the rat"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    ref = py_train(texts, 14)
    assert bpe.bpe_train(df, "text", 14) == ref
    for k in (2, 4, 8):
        assert bpe.bpe_train(df, "text", 14, batch_k=k) == ref, k


@given(texts=bpe_texts_st, n=st.integers(2, 8),
       k=st.integers(2, 5))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_batched_fuzz(spark, texts, n, k):
    """Hypothesis: batched training == python reference == the
    sequential Spark loop, over dense tiny-alphabet corpora where
    batch admission constantly hits the created-pair and collision
    bounds."""
    from sybil_spark.operators import bpe
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    assert bpe.bpe_train(df, "text", n, batch_k=k) == py_train(texts, n)


def test_bpe_train_batched_fewer_rounds(spark):
    """The point of batching: on a corpus with a steep pair-frequency
    curve the batched trainer takes measurably fewer driver
    round-trips (pair_counts collects) than merges learned."""
    from sybil_spark.operators import bpe
    # frequencies engineered to decay steeply so prefixes batch:
    # distinct-letter words with counts 512, 256, ... — every pair
    # is symbol-disjoint from the others
    words = ["ab"] * 512 + ["cd"] * 200 + ["ef"] * 80 + ["gh"] * 30 \
        + ["ij"] * 11 + ["kl"] * 4
    df = spark.createDataFrame([(0, " ".join(words))],
                               ["doc_id", "text"])
    ref = py_train([" ".join(words)], 6)
    calls = {"n": 0}
    orig = bpe.pair_counts

    def counting(vocab):
        calls["n"] += 1
        return orig(vocab)

    bpe.pair_counts = counting
    try:
        got = bpe.bpe_train(df, "text", 6, batch_k=6)
    finally:
        bpe.pair_counts = orig
    assert got == ref
    assert calls["n"] < 6, calls["n"]   # fewer collects than merges


# ------------------------------------------------------------ production apply

def _synthetic_rules(n_rules, alphabet="abcdefgh", seed=11):
    """Deterministic synthetic rule set: grow a symbol pool by
    merging seeded-random pairs of existing symbols — includes
    rules that never fire, chains (rule k's output feeding rule
    k+1's input), and same-symbol runs."""
    import random
    rng = random.Random(seed)
    pool = list(alphabet)
    rules = []
    for rank in range(n_rules):
        l = rng.choice(pool)
        r = rng.choice(pool)
        rules.append((rank, l, r, n_rules - rank))
        pool.append(l + r)
    return rules


def test_bpe_apply_at_former_fold_gate_matches_python(spark):
    """48 rules sat exactly on the removed fold/UDF size gate, where
    the chained-fold plan failed analysis ("Max iterations (100)
    reached for batch Resolution"); bpe_apply and a dispatched BPE
    artifact now both encode it like the python reference."""
    from sybil_spark.operators import bpe
    from sybil_spark.operators.tokenizer_store import apply_tokenizer
    rules = _synthetic_rules(48)
    texts = ["abcd abab hgfe", "aaaa bbbb cdcd efgh a"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    for enc in (bpe.bpe_apply(df, "doc_id", "text", rules),
                apply_tokenizer(df, "doc_id", "text",
                                {"kind": "bpe", "data": rules})):
        got = {r["doc_id"]: list(r["pieces"]) for r in enc.collect()}
        for i, t in enumerate(texts):
            assert got[i] == py_encode(t, rules), (i, t)


def test_bpe_apply_large_ruleset_matches_python(spark):
    """1,000-rule synthetic tokenizer applied by bpe_apply == the
    python Sennrich reference, including null text."""
    import random
    from sybil_spark.operators import bpe
    rules = _synthetic_rules(1000)
    rng = random.Random(3)
    texts = [" ".join("".join(rng.choice("abcdefgh")
                              for _ in range(rng.randint(1, 12)))
                      for _ in range(rng.randint(1, 20)))
             for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(texts)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (None if r["pieces"] is None
                         else list(r["pieces"]))
           for r in bpe.bpe_apply(df, "doc_id", "text",
                                  rules).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_encode(t, rules), (i, t)
    assert got[99] is None


@given(texts=bpe_texts_st, n=st.integers(1, 6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_apply_udf_fuzz(spark, texts, n):
    from sybil_spark.operators import bpe
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    merges = py_train(texts, n)
    got = {r["doc_id"]: list(r["pieces"])
           for r in bpe.bpe_apply(df, "doc_id", "text",
                                  merges).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_encode(t, merges), (i, t)


def test_bpe_apply_plan_single_arrow_pass(spark):
    """Rule count must NOT leak into the plan: bpe_apply is ONE
    ArrowEvalPython node whether 10 or 1,000 rules."""
    from sybil_spark.operators import bpe
    df = spark.createDataFrame([(0, "ab ab")], ["doc_id", "text"])
    for n in (10, 48, 100, 1000):
        plan = bpe.bpe_apply(df, "doc_id", "text",
                             _synthetic_rules(n)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, (n, plan)


def test_fertility_report(spark):
    from pyspark.sql import Row
    from sybil_spark.operators import bpe
    rules = [(0, "a", "b", 0), (1, "ab", "c", 0)]
    df = spark.createDataFrame([
        Row(doc_id=0, lang="en", text="abc ab"),    # 2 words -> 1 + 1 pieces
        Row(doc_id=1, lang="en", text="xyz"),       # 1 word  -> 3 pieces
        Row(doc_id=2, lang="de", text="abc abc"),   # 2 words -> 2 pieces
    ])
    rep = {r["lang"]: r for r in bpe.fertility_report(
        df, "doc_id", "text", rules, "lang").collect()}
    assert rep["en"]["n_docs"] == 2
    assert rep["en"]["n_tokens"] == 3
    assert rep["en"]["n_pieces"] == 5    # [abc]=1, [ab]=1, [x,y,z]=3
    assert rep["en"]["fertility"] == 5.0 / 3.0
    assert rep["de"]["n_tokens"] == 2 and rep["de"]["n_pieces"] == 2
    assert rep["de"]["fertility"] == 1.0
