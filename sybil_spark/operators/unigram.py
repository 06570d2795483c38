"""Distributed unigram-LM (SentencePiece-style) tokenizer training
and encoding — the second tokenizer family of real LLM pipelines,
next to BPE (operators/bpe.py).

Kudo 2018 ("Subword Regularization", arXiv:1804.10959): model a word
as the max-probability segmentation into vocabulary pieces under a
unigram language model over pieces; train by EM (expected piece
counts -> renormalize) while pruning the vocabulary down to the
target size. This implementation is the hard-EM (Viterbi) variant
the round brief prescribes: the e-step counts pieces of each word's
single BEST segmentation, weighted by word frequency — simpler,
deterministic, and the canonical reimplementation choice.

Scale shape (the same split as the BPE trainer):
- `word_counts` (shared with bpe.py) is the ONE corpus-sized pass.
- seeding, every EM iteration, and pruning all run over vocabulary-
  sized frames: the distinct-word frame obeys Heaps' law (~sqrt of
  corpus tokens) and the candidate-piece frame is `seed_size`-
  bounded by construction. At 100 TB of text the trainer's
  per-iteration work is unchanged — only the initial word count
  grows.
- the Viterbi segmentation itself is dense per-word DP — exactly a
  Python-batch workload — so e-step and apply run through the one
  tokenizer-apply UDF (tokenizer_store._encode_pieces, shared with
  bpe_apply and wordpiece_apply): the piece table is broadcast
  (vocab changes the broadcast, never the plan) and each batch
  segments its distinct words once (Zipf: most tokens are
  repeats).

Determinism contract (what makes unigram_apply oracle-checkable in
SQL with a fixed vocab): the DP at each end position i picks among
candidate (piece ending at i) by
    (prefix_score + logprob)  DESC,
    (prefix_n_pieces + 1)     ASC,
    piece length              DESC   (i.e. earliest start position)
and every position stores exactly ONE winner, so the segmentation is
a pure function of (word, vocab) with no float-order ambiguity: the
score sums are evaluated in left-to-right prefix order on both
engines, and a vocab whose logprobs are exact binary fractions (the
oracle fixture) makes every partial sum bit-exact in any IEEE
engine. Unsegmentable words (a character outside the vocab) emit
the whole word as a single piece — the byte-fallback analogue, and
the same rule the SQL oracle applies.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sybil_spark.operators.bpe import word_counts
from sybil_spark.operators.tokenizer_store import _encode_pieces


def piece_candidates(df: DataFrame, text_col: str,
                     max_piece_len: int = 8,
                     pattern: str | None = None) -> DataFrame:
    """(piece, freq): every substring of length 1..max_piece_len of
    every word, weighted by word frequency — the unigram trainer's
    seed-candidate statistic (the suffix-array seeding of the
    reference implementation, re-expressed as a bounded substring
    explode). One corpus-sized pass via word_counts; the explode
    itself runs on the distinct-word frame and emits at most
    len(word) * max_piece_len rows per word — bounded, never
    quadratic in word length beyond the cap."""
    wc = word_counts(df, text_col, pattern)
    w = F.col("word")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(int(max_piece_len)),
                               F.length(w) - i + 1)),
            lambda n: F.substring(w, i, n))))
    return (wc.select(F.explode(subs).alias("piece"), "cnt")
              .groupBy("piece").agg(F.sum("cnt").alias("freq")))


def _viterbi(word: str, vocab: dict, max_len: int):
    """Best segmentation of one word under piece logprobs: returns
    (pieces, score, ok). DP tie rule per position: score desc,
    n_pieces asc, longer piece wins (module docstring — the contract
    the SQL oracle replicates). ok=False => no full segmentation
    exists; caller applies the single-piece fallback."""
    n = len(word)
    # dp[i] = (ok, score, np, start_of_last_piece)
    dp = [(False, 0.0, 0, -1)] * (n + 1)
    dp[0] = (True, 0.0, 0, -1)
    for i in range(1, n + 1):
        best = None
        for ln in range(min(max_len, i), 0, -1):   # longer first
            j = i - ln
            okj, sj, npj, _ = dp[j]
            if not okj:
                continue
            lp = vocab.get(word[j:i])
            if lp is None:
                continue
            cand = (sj + lp, npj + 1, j)
            if best is None or cand[0] > best[0] or (
                    cand[0] == best[0] and (
                        cand[1] < best[1]
                        or (cand[1] == best[1] and cand[2] < best[2]))):
                best = cand
        if best is not None:
            dp[i] = (True, best[0], best[1], best[2])
    if not dp[n][0]:
        return [word], 0.0, False
    pieces = []
    i = n
    while i > 0:
        j = dp[i][3]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces, dp[n][1], True


def _segment(word: str, vocab: dict, max_len: int) -> list:
    """Per-word encoder for the apply path: `_viterbi`'s pieces."""
    return _viterbi(word, vocab, max_len)[0]


def unigram_train(df: DataFrame, text_col: str, vocab_size: int,
                  n_iters: int = 3, seed_size: int | None = None,
                  max_piece_len: int = 8, prune_frac: float = 0.25,
                  pattern: str | None = None) -> list[tuple]:
    """Learn a unigram-LM piece vocabulary: [(piece, logprob), ...]
    sorted (piece asc), len <= vocab_size (single characters are
    always retained for coverage, and count against the budget
    last).

    Loop per iteration (hard EM):
    - e-step: ONE pass over the distinct-word frame — Viterbi-
      segment each word under current logprobs (Arrow-batched UDF,
      broadcast vocab), explode pieces, groupBy sum of word-count-
      weighted piece counts. Corpus text is never rescanned.
    - m-step: logprob = ln(count) - ln(total) over the collected
      piece table (bounded by seed_size — the documented driver-side
      state, same contract as bpe_train's batch table).
    - prune: drop unused pieces; while above vocab_size, drop the
      lowest-count prune_frac of multi-char pieces (count asc,
      piece desc — deterministic), never below the target.

    Seeds: top seed_size candidates by (freq desc, piece asc) from
    piece_candidates, plus every single character. seed_size
    defaults to 4x vocab_size (small corpora cap it naturally)."""
    if vocab_size < 1:
        raise ValueError("unigram_train: vocab_size must be >= 1")
    if seed_size is None:
        seed_size = 4 * vocab_size
    spark = df.sparkSession

    wc = word_counts(df, text_col, pattern).localCheckpoint()
    try:
        cand = piece_candidates(df, text_col, max_piece_len, pattern)
        # chars ride free (coverage); multi-char seeds take the top
        # seed_size slots. Both frames are bounded collects:
        # |chars| ~ alphabet, |seeds| <= seed_size.
        chars = {r["piece"]: int(r["freq"])
                 for r in cand.where(F.length("piece") == 1).collect()}
        seeds = {r["piece"]: int(r["freq"])
                 for r in (cand.where(F.length("piece") > 1)
                               .orderBy(F.desc("freq"), F.asc("piece"))
                               .limit(int(seed_size)).collect())}
        seeds.update(chars)
        char_set = set(chars)
        total = float(sum(seeds.values())) or 1.0
        vocab = {p: math.log(c / total) for p, c in seeds.items()}

        def renorm(kept: dict) -> dict:
            # unused CHARS stay at a 0.5 pseudo-count: coverage for
            # words the current segmentation never routes through
            # them (SentencePiece keeps required chars at floor
            # probability for the same reason)
            tot = float(sum(kept.values())) or 1.0
            return {p: math.log((c if c > 0 else 0.5) / tot)
                    for p, c in kept.items()}

        used: dict = {}
        for it in range(max(1, int(n_iters))):
            bc = spark.sparkContext.broadcast((vocab, max_piece_len))
            # semi-join against the vocab keys BEFORE the collect:
            # the unsegmentable-word fallback emits whole words that
            # are NOT vocab entries (coverage gaps, not pieces), and
            # on heavy non-covered-script corpora that set is
            # |distinct OOV words|-sized — filtering only after the
            # collect made driver state unbounded (r9 ADVICE). Now
            # <= |vocab| rows ever reach the driver.
            keys = spark.createDataFrame(
                [(p,) for p in vocab], "piece string")
            counts = (_encode_pieces(wc, "cnt", "word", bc, _segment,
                                     pieces_col="ps")
                        .select(F.explode("ps").alias("piece"), "cnt")
                        .groupBy("piece")
                        .agg(F.sum("cnt").alias("c"))
                        .join(F.broadcast(keys), "piece", "left_semi")
                        .collect())
            bc.unpersist()
            used = {r["piece"]: int(r["c"]) for r in counts
                    if r["piece"] in vocab}
            # prune, gradually: drop-first order = (count asc, piece
            # desc) over USED multi-char pieces (unused ones drop
            # free; chars never drop — coverage); at most prune_frac
            # of the pool per iteration so later e-steps re-estimate
            # before the next cut. The final hard cut lands exactly
            # on vocab_size.
            multi = sorted(((p, c) for p, c in used.items()
                            if len(p) > 1), reverse=True)
            multi.sort(key=lambda kv: kv[1])      # stable: count asc
            budget = max(0, int(vocab_size) - len(char_set))
            over = len(multi) - budget
            if over > 0:
                last = it == max(1, int(n_iters)) - 1
                drop = over if last else \
                    min(over, max(1, int(len(multi)
                                         * float(prune_frac))))
                multi = multi[drop:]
            kept = dict(multi)
            for p in char_set:
                kept[p] = used.get(p, 0)
            vocab = renorm(kept)
        return sorted(vocab.items())
    finally:
        wc.unpersist()


def unigram_apply(df: DataFrame, id_col: str, text_col: str,
                  vocab: list[tuple], pattern: str | None = None,
                  pieces_col: str = "pieces",
                  keep_cols: list[str] | None = None) -> DataFrame:
    """Production unigram-tokenizer apply: (id_col, pieces
    array<string>, n_pieces), the exact output shape of bpe_apply —
    downstream consumers (fertility_report, packing, token budgets)
    take either tokenizer.

    The one tokenizer-apply UDF (tokenizer_store._encode_pieces,
    plan-pinned to one ArrowEvalPython node): the vocab is broadcast
    once per executor, each Arrow batch Viterbi-encodes its DISTINCT
    words once. Zero shuffle, map-only — the 100 TB cost is
    executor-linear."""
    if not vocab:
        raise ValueError("unigram_apply: empty vocab")
    voc = {p: float(lp) for p, lp in vocab}
    max_len = max(len(p) for p in voc)
    bc = df.sparkSession.sparkContext.broadcast((voc, max_len))
    return _encode_pieces(df, id_col, text_col, bc, _segment,
                          pattern=pattern, pieces_col=pieces_col,
                          keep_cols=keep_cols)
