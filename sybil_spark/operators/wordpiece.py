"""Distributed WordPiece tokenizer training and encoding — the third
tokenizer family of real LLM pipelines (BERT's), completing the triad
next to BPE (operators/bpe.py) and the unigram LM
(operators/unigram.py).

Schuster & Nakajima 2012 ("Japanese and Korean voice search") / Wu et
al. 2016 (GNMT §4.1): training is BPE-SHAPED — iterative adjacent-pair
merges over the distinct-word vocabulary frame — but ranks candidate
pairs by the unigram-LM likelihood GAIN of the merge,

    score(l, r) = freq(l, r) / (freq(l) · freq(r)),

not by raw pair frequency; continuation symbols carry the '##' prefix
(a word's symbols start as [c0, ##c1, ##c2, ...], and a merge of
(l, r) produces l || r-without-'##', so the prefix survives merges on
the word-initial symbol only). Encoding is NOT merge-replay: WordPiece
applies the finished vocabulary by greedy longest-match-first
(maximum-munch) with the '##' continuation rule and a whole-word
[UNK] fallback when any position fails to match — the tokenizer BERT
ships.

Scale shape (the same split as bpe_train / unigram_train):
- `word_counts` (shared, bpe.py) is the ONE corpus-sized pass.
- every training iteration runs over the vocabulary frame (Heaps'
  law): one pair explode + groupBy, one symbol explode + groupBy,
  two vocabulary-sized joins, a 1-row argmax collect (the bounded
  driver-side state contract of bpe_train/components), then the
  zero-shuffle `_merge_fold` rewrite.
- the greedy longest-match apply is dense per-word string scanning —
  a Python-batch workload — so it runs through the one
  tokenizer-apply UDF (tokenizer_store._encode_pieces, shared with
  bpe_apply and unigram_apply) with the vocabulary broadcast and a
  per-batch distinct-word cache (vocab changes the broadcast, never
  the plan).

Determinism contract: the training argmax compares
    score desc  (IEEE double: exact-int freq / nearest-double of the
                 exact decimal product freq(l)·freq(r) — the same two
                 operations in any engine),
    freq desc, l asc, r asc
so the learned rule sequence is reproducible (python-reference
fuzz-pinned, like bpe_train). The apply is a pure function of
(word, vocab) — greedy maximum-munch has no float anywhere — which is
what makes `wordpiece_apply` oracle-checkable in SQL with a fixed
vocabulary (corpus.py: a recursive-CTE maximum-munch in DuckDB
hash-matches the piece sequences bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sybil_spark.operators.bpe import (_merge_fold, pair_counts,
                                       word_counts)
from sybil_spark.operators.tokenizer_store import _encode_pieces

#: BERT's long-word guard: words longer than this emit [UNK] whole
#: (matching HF WordPiece's max_input_chars_per_word).
MAX_WORD_CHARS = 100


def _wp_syms(word_col) -> "F.Column":
    """word -> WordPiece start symbols: first char bare, every later
    char '##'-prefixed. Pure array exprs, no UDF."""
    chars = F.split(word_col, "")
    return F.transform(
        chars,
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c)))


def _wp_vocab_frame(df: DataFrame, text_col: str,
                    pattern: str | None) -> DataFrame:
    """(syms, cnt): the distinct-word frame in WordPiece start
    symbols — the trainer's working set."""
    return (word_counts(df, text_col, pattern)
            .select(_wp_syms(F.col("word")).alias("syms"), "cnt"))


def _scored_pairs(vocab: DataFrame) -> DataFrame:
    """(l, r, freq, cl, cr, score) over a (syms, cnt) frame: adjacent
    pair counts joined with both sides' SYMBOL counts (every
    occurrence position, weighted by word count), scored by the
    likelihood gain freq/(cl·cr). Both statistics are one explode +
    groupBy over the vocabulary frame — never the corpus. The cl·cr
    product is exact in decimal(38,0) (int64 would overflow past
    ~3e9-token corpora — the collocations lesson) and converted to
    double once, so the score is two exact operands and one IEEE
    division in any engine."""
    pc = pair_counts(vocab)
    sc = (vocab.select(F.explode("syms").alias("s"), "cnt")
               .groupBy("s").agg(F.sum("cnt").alias("c")))
    score = (F.col("freq").cast("double")
             / (F.col("cl").cast("decimal(19,0)")
                * F.col("cr").cast("decimal(19,0)"))
               .cast("decimal(38,0)").cast("double"))
    return (pc.join(sc.select(F.col("s").alias("l"),
                              F.col("c").alias("cl")), "l")
              .join(sc.select(F.col("s").alias("r"),
                              F.col("c").alias("cr")), "r")
              .select("l", "r", "freq", "cl", "cr",
                      score.alias("score")))


def wordpiece_pair_scores(df: DataFrame, text_col: str,
                          top_n: int = 20,
                          pattern: str | None = None) -> DataFrame:
    """Top adjacent symbol pairs by WordPiece likelihood-gain score —
    the trainer's iteration zero, exposed as its own operator because
    it is the oracle-checkable core (the loop is iterative and
    SQL-inexpressible; this step is one SQL query — bpe_pair_counts'
    exact analog with the score ranking).

    Output: (l, r, freq, score) ordered (score desc, freq desc, l,
    r) limit top_n. The recorded score is ln(freq) − ln(cl) − ln(cr)
    quantized to decimal(38,6) — the package's cross-engine ln
    discipline (raw freq/(cl·cr) underflows the 6-decimal quantum on
    real corpora; the log form is order-identical since ln is
    monotone and both engines quantize the same value)."""
    lns = (F.log(F.col("freq").cast("double"))
           - F.log(F.col("cl").cast("double"))
           - F.log(F.col("cr").cast("double")))
    return (_scored_pairs(_wp_vocab_frame(df, text_col, pattern))
            .select("l", "r", "freq",
                    lns.cast("decimal(38,6)").cast("string")
                       .cast("double").alias("score"))
            .orderBy(F.desc("score"), F.desc("freq"),
                     F.asc("l"), F.asc("r"))
            .limit(int(top_n)))


def _strip_cont(s: str) -> str:
    return s[2:] if s.startswith("##") else s


def wordpiece_train(df: DataFrame, text_col: str, num_merges: int,
                    min_freq: int = 2,
                    pattern: str | None = None) -> tuple:
    """Learn a WordPiece vocabulary: returns (merges, vocab) where
    merges = [(rank, l, r, freq), ...] in learned order and vocab =
    sorted list of every symbol the final state contains (base chars
    + '##'-continuations + merged pieces) — the artifact
    `wordpiece_apply` consumes.

    Each iteration: score every adjacent pair (freq/(cl·cr) — the
    merge that most increases corpus likelihood under a unigram LM
    over symbols), take the argmax by (score desc, freq desc, l, r)
    as ONE bounded collect, rewrite the vocabulary frame with the
    zero-shuffle fold (merged symbol = l || r-without-'##'), stop
    when the best pair's freq < min_freq. localCheckpoint truncates
    lineage per iteration and unpersists the superseded snapshot —
    bpe_train's exact loop discipline."""
    vocab = _wp_vocab_frame(df, text_col, pattern).localCheckpoint()
    merges: list[tuple] = []
    try:
        while len(merges) < num_merges:
            rows = (_scored_pairs(vocab)
                    .where(F.col("freq") >= F.lit(int(min_freq)))
                    .orderBy(F.desc("score"), F.desc("freq"),
                             F.asc("l"), F.asc("r"))
                    .limit(1).collect())
            if not rows:
                break
            l, r, freq = rows[0]["l"], rows[0]["r"], int(rows[0]["freq"])
            merges.append((len(merges), l, r, freq))
            merged = l + _strip_cont(r)
            new_vocab = vocab.select(
                _merge_fold(F.col("syms"), l, r, merged).alias("syms"),
                "cnt").localCheckpoint()
            vocab.unpersist()
            vocab = new_vocab
        pieces = [r["s"] for r in
                  vocab.select(F.explode("syms").alias("s"))
                       .distinct().collect()]
        return merges, sorted(set(pieces))
    finally:
        vocab.unpersist()


def _match_word(word: str, vocab, unk: str, max_chars: int) -> list:
    """Greedy longest-match-first WordPiece encode of ONE word (HF
    WordPiece semantics): walk left to right, at each position take
    the LONGEST vocabulary piece ('##'-prefixed when not
    word-initial); any position with no match — or a word past
    max_chars — makes the WHOLE word [UNK]."""
    n = len(word)
    if n > max_chars:
        return [unk]
    out: list[str] = []
    start = 0
    while start < n:
        end = n
        piece = None
        while end > start:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in vocab:
                piece = sub
                break
            end -= 1
        if piece is None:
            out = [unk]
            break
        out.append(piece)
        start = end
    return out


def wordpiece_apply(df: DataFrame, id_col: str, text_col: str,
                    vocab: list, unk: str = "[UNK]",
                    max_word_chars: int = MAX_WORD_CHARS,
                    pattern: str | None = None,
                    pieces_col: str = "pieces",
                    keep_cols: list | None = None) -> DataFrame:
    """Production WordPiece apply: (id_col, pieces array<string>,
    n_pieces) — the shared output contract of bpe_apply /
    unigram_apply, so every downstream consumer (fertility_report,
    packing, token budgets) takes any of the three tokenizers.

    The one tokenizer-apply UDF (tokenizer_store._encode_pieces,
    plan-pinned to one ArrowEvalPython node): the vocabulary set is
    broadcast once per executor, each Arrow batch greedy-encodes its
    DISTINCT words once (Zipf cache). Zero shuffle, map-only —
    executor-linear at 100 TB."""
    if not vocab:
        raise ValueError("wordpiece_apply: empty vocab")
    bc = df.sparkSession.sparkContext.broadcast(
        (frozenset(vocab), unk, int(max_word_chars)))
    return _encode_pieces(df, id_col, text_col, bc, _match_word,
                          pattern=pattern, pieces_col=pieces_col,
                          keep_cols=keep_cols)


def unk_rate_report(df: DataFrame, id_col: str, text_col: str,
                    vocab: list, group_col: str,
                    unk: str = "[UNK]",
                    pattern: str | None = None) -> DataFrame:
    """(group, n_docs, n_words, n_unk, unk_rate): vocabulary
    COVERAGE by language/source — fertility_report's sibling and
    the other standard tokenizer-QA number. WordPiece UNKs whole
    words, so every `unk` piece is exactly one word the vocabulary
    cannot segment; a language whose unk_rate rides high is about
    to lose that fraction of its text to a single token.

    One scan (the fertility_report shape): wordpiece_apply with
    keep_cols riding the group through the encode, n_unk / n_words
    as pure array expressions, then the |groups|-row integer
    aggregation. unk_rate divides two exact bigint sums in double —
    cross-engine bit-exact."""
    enc = wordpiece_apply(df, id_col, text_col, vocab, unk=unk,
                          pattern=pattern,
                          keep_cols=[group_col, text_col])
    from sybil_spark.functions.text import tokens

    n_words = F.size(F.filter(tokens(F.col(text_col), pattern),
                              lambda w: w != "")).cast("long")
    n_unk = F.size(F.filter(F.col("pieces"),
                            lambda p: p == F.lit(unk))).cast("long")
    return (enc.select(F.col(group_col), n_words.alias("__nw"),
                       n_unk.alias("__nu"))
               .groupBy(group_col)
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("__nw").alias("n_words"),
                    F.sum("__nu").alias("n_unk"))
               .withColumn("unk_rate",
                           F.col("n_unk").cast("double")
                           / F.col("n_words").cast("double"))
               .orderBy(group_col))
