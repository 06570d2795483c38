"""Distributed byte-pair-encoding (BPE) training and encoding.

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units"): learn a vocabulary of subword merges by repeatedly
replacing the most frequent adjacent symbol pair with a new merged
symbol. This is the tokenizer-training pass of every modern LLM data
pipeline, and the part that benefits from a cluster is exactly the
part Spark is good at: the corpus-scale word count. After that, the
iterative merge loop runs over the DISTINCT-word vocabulary — a
frame that grows with Heaps' law (~sqrt of corpus tokens), not with
corpus size, so the per-iteration shuffles stay small even at 100 TB
of input text.

Scale shape:
- `word_counts`: one explode + one groupBy — the only corpus-sized
  shuffle in the whole trainer.
- `bpe_train`: each merge iteration is one pair-explode + groupBy
  over the vocab frame plus a 1-row `.collect()` argmax (bounded —
  same contract as dedup.components' convergence count), then a
  zero-shuffle fold that rewrites symbol arrays in place. Lineage is
  truncated per iteration with localCheckpoint, the same trick
  components() uses to keep round time constant.
- `bpe_apply`: the rules broadcast once per executor into the one
  Arrow-batched tokenizer-apply UDF (tokenizer_store._encode_pieces)
  — zero shuffle, one plan node however many rules; each distinct
  word per batch is encoded once, one greedy pass per rule.

Symbols are plain strings (no end-of-word marker): merges never
cross word boundaries because pairs are generated within each word's
symbol array only. Ties in the argmax break deterministically by
(freq desc, left asc, right asc) so training is reproducible on any
engine — the property the python-reference fuzz test pins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sybil_spark.functions.text import tokens
from sybil_spark.operators.tokenizer_store import _encode_pieces


def word_counts(df: DataFrame, text_col: str,
                pattern: str | None = None) -> DataFrame:
    """(word, cnt) over whitespace (or regex) tokens — the one
    corpus-sized pass; everything downstream operates on the
    distinct-word vocabulary."""
    return (df.select(F.explode(tokens(F.col(text_col), pattern))
                      .alias("word"))
              .where(F.col("word") != "")
              .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs (overlapping
    positions both count, as in the reference BPE trainer)."""
    # sequence(1, 0) would generate DESCENDING [1, 0] — guard the
    # single-symbol case to an empty pair list explicitly.
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(F.element_at(syms, i).alias("l"),
                           F.element_at(syms, i + 1).alias("r")))
    return F.when(F.size(syms) >= 2, pairs) \
            .otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _merge_fold(syms: Column, left: str, right: str,
                merged: str | None = None) -> Column:
    """Rewrite a symbol array applying ONE merge rule (left,right) ->
    `merged` (default left||right — BPE; WordPiece passes
    left||right-without-'##' instead), greedy left-to-right over
    non-overlapping occurrences — a single codegen fold, no UDF.
    "aaa" under (a,a) becomes [aa, a]: after a merge the new symbol
    does not re-pair with the rule inside the same pass, matching
    the reference implementation's scan. This is the trainers'
    vocabulary rewrite (bpe_train, wordpiece_train); applying a
    finished tokenizer goes through `_encode_word` instead."""
    if merged is None:
        merged = left + right
    init = F.array().cast("array<string>")

    def step(acc, x):
        can = (F.size(acc) > 0) \
            & (F.element_at(acc, -1) == F.lit(left)) \
            & (x == F.lit(right))
        return (F.when(can,
                       F.concat(F.slice(acc, 1, F.size(acc) - 1),
                                F.array(F.lit(merged))))
                 .otherwise(F.concat(acc, F.array(x))))

    return F.aggregate(syms, init, step)


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, freq) adjacent-pair frequencies over a (syms, cnt)
    vocabulary frame. One explode + one groupBy on the vocab — NOT
    the corpus."""
    return (vocab.select(F.explode(_adjacent_pairs(F.col("syms")))
                         .alias("p"), "cnt")
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("cnt").alias("freq")))


def bpe_pair_counts(df: DataFrame, text_col: str,
                    top_n: int = 20) -> DataFrame:
    """Top adjacent CHARACTER pairs weighted by word frequency — BPE
    iteration zero, exposed as its own operator because it is the
    oracle-checkable core of the trainer (the full loop is iterative
    and SQL-inexpressible; this step is one SQL query).

    Output: (l, r, freq) ordered by (freq desc, l, r) limit top_n."""
    wc = word_counts(df, text_col)
    vocab = wc.select(F.split(F.col("word"), "").alias("syms"), "cnt")
    return (pair_counts(vocab)
            .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
            .limit(top_n))


def _safe_batch(rows, last_rank: int, num_merges: int,
                min_freq: int, batch_k: int) -> list[tuple]:
    """Select a prefix of the rank-ordered candidate rows that is
    PROVABLY equivalent to applying them one sequential greedy
    argmax at a time. `rows` is the collected top-M pair table,
    ordered (freq desc, l, r).

    Soundness argument. Sequential greedy at step j picks the
    ranking-max pair of the current state. Taking a strict PREFIX of
    the sorted table means no un-batched existing pair can outrank
    batch[j] (everything between batch[0] and batch[j] is in the
    batch, and merges only shrink other pairs' counts — provided the
    batch pairs touch disjoint symbols). The one hazard is pairs
    that APPEAR during the batch: merging (l_i,r_i) -> m_i creates
    pairs (x, m_i) / (m_i, y). Every occurrence of such a pair maps
    injectively to a boundary that existed in the pre-batch state as
    (x, l_i) / (r_i, y), so its count at ANY intermediate state is
    <= the pre-batch count of that boundary pair; and if the string
    m_i collides with a pre-existing symbol, the combined count is
    <= created + the pre-existing pair's count. Both terms are read
    off the collected table (pairs outside the top-M are bounded by
    the M-th row's freq). batch[j] is admitted only if
    freq_j > created_bound_i + collision_bound_i for every i < j —
    then batch[j] is strictly the argmax at its turn, so the batched
    result is bit-identical to the sequential loop."""
    if not rows or rows[0]["freq"] < min_freq:
        return []
    # freq of the last collected row bounds every pair NOT collected
    tail = int(rows[-1]["freq"])
    batch: list[tuple] = []
    used: set[str] = set()      # symbols touched by earlier batch pairs
    made: list[str] = []        # symbols created by earlier batch pairs
    for row in rows:
        if len(batch) >= batch_k or \
                last_rank + 1 + len(batch) >= num_merges + 1:
            break
        l, r, freq = row["l"], row["r"], int(row["freq"])
        if freq < min_freq:
            break
        if batch:
            # disjointness: a pair touching an earlier pair's symbols
            # (or its merged symbol) has a changed count — stop (not
            # skip: skipping would reorder the greedy sequence)
            if l in used or r in used or l in made or r in made:
                break
            bound = 0
            for i, (_, li, ri, fi) in enumerate(batch):
                mi = li + ri
                created = tail
                collide = 0
                for q in rows:
                    if q["l"] == ri or q["r"] == li:
                        created = max(created, int(q["freq"]))
                    if q["l"] == mi or q["r"] == mi:
                        collide = max(collide, int(q["freq"]))
                if collide == 0:
                    collide = tail   # an m_i-pair may sit below top-M
                bound = max(bound, created + collide)
            if freq <= bound:
                break
        batch.append((last_rank + 1 + len(batch), l, r, freq))
        used |= {l, r}
        made.append(l + r)
    return batch


def bpe_train(df: DataFrame, text_col: str, num_merges: int,
              min_freq: int = 2,
              pattern: str | None = None,
              batch_k: int = 1) -> list[tuple]:
    """Learn `num_merges` BPE merge rules from the corpus.

    Returns [(rank, left, right, freq), ...] in learned order. Stops
    early when the best remaining pair's frequency drops below
    `min_freq` (merging a pair that occurs once creates a symbol
    used once — pure vocab pollution).

    `batch_k` > 1 turns on batched training: each iteration collects
    the top-M pair rows once and applies up to batch_k merges whose
    greedy-equivalence is PROVEN from that table (_safe_batch) — the
    rule set is bit-identical to batch_k=1, but a 32k-rule train
    pays ~k x fewer scheduler round-trips and checkpoints. The
    1-merge path stays the oracle-parity default.

    Driver-side state is one small collected pair table per
    iteration (<= 4*batch_k+8 rows), bounded like components()'
    convergence counter; the vocabulary frame itself never leaves
    the cluster. Each iteration's localCheckpoint unpersists its
    predecessor, so executor storage holds one vocab snapshot, not
    one per merge."""
    vocab = (word_counts(df, text_col, pattern)
             .select(F.split(F.col("word"), "").alias("syms"), "cnt")
             .localCheckpoint())
    merges: list[tuple] = []
    top_m = max(1, 4 * batch_k + 8) if batch_k > 1 else 1
    while len(merges) < num_merges:
        rows = (pair_counts(vocab)
                .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
                .limit(top_m).collect())
        if batch_k > 1:
            batch = _safe_batch(rows, len(merges) - 1, num_merges,
                                min_freq, batch_k)
        else:
            batch = [] if not rows or rows[0]["freq"] < min_freq \
                else [(len(merges), rows[0]["l"], rows[0]["r"],
                       int(rows[0]["freq"]))]
        if not batch:
            break
        merges.extend(batch)
        # one select per batch: the fold chain nests batch_k deep
        # (bounded), then localCheckpoint truncates the lineage so
        # the next pair count never re-runs prior rewrites; the
        # superseded snapshot is unpersisted (ADVICE r7) so storage
        # holds exactly one copy.
        syms = F.col("syms")
        for _, l, r, _f in batch:
            syms = _merge_fold(syms, l, r)
        new_vocab = vocab.select(syms.alias("syms"),
                                 "cnt").localCheckpoint()
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    return merges


def merges_df(spark, merges: list[tuple]) -> DataFrame:
    """The learned rules as a DataFrame (rank, left, right, freq) —
    the persistable artifact a tokenizer-apply job broadcasts."""
    from pyspark.sql.types import (StructType, StructField, IntegerType,
                                   StringType, LongType)
    schema = StructType([StructField("rank", IntegerType()),
                         StructField("left", StringType()),
                         StructField("right", StringType()),
                         StructField("freq", LongType())])
    return spark.createDataFrame(
        [(int(a), b, c, int(d)) for a, b, c, d in merges], schema)


def _encode_word(word: str, rules: list[tuple]) -> list[str]:
    """Sennrich apply for ONE word, python-side: one greedy
    left-to-right non-overlapping pass PER RULE in rank order —
    the same scan as `_merge_fold` (and deliberately NOT the GPT-2
    min-rank loop, which re-merges pairs a later rule re-creates and
    so diverges from single-pass semantics on adversarial rule
    sets). A symbol-set membership check skips rules whose sides
    can't occur (recomputed only when a merge fired — for a short
    word almost every rule is a set-miss), which keeps 32k-rule cost
    sane; repeats are cached per batch by the caller."""
    syms = list(word)
    present = set(syms)
    for l, r, merged in rules:
        if len(syms) < 2 or l not in present or r not in present:
            continue
        out = []
        fired = False
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                out.append(merged)
                fired = True
                i += 2
            else:
                out.append(syms[i])
                i += 1
        if fired:
            syms = out
            present = set(syms)
    return syms


def bpe_apply(df: DataFrame, id_col: str, text_col: str,
              merges: list[tuple],
              pattern: str | None = None,
              pieces_col: str = "pieces",
              keep_cols: list[str] | None = None) -> DataFrame:
    """Production tokenizer apply: encodes every document under the
    learned merges, rules applied in learned order (rank order is the
    priority order — the classic apply). Output: (id_col, pieces
    array<string>, n_pieces).

    The merge table is broadcast once per executor (a 32k-rule
    tokenizer is ~1 MB) and applied by the one tokenizer-apply UDF
    (tokenizer_store._encode_pieces): each distinct word of an Arrow
    batch is encoded once by `_encode_word`. The scan stays a single
    ArrowEvalPython node however many rules there are (plan-pinned
    in tests) — rule count changes the broadcast, not the plan. Bit-
    equal to the python Sennrich reference (hypothesis-fuzzed).

    100 TB shape: map-only — no shuffle, no driver round-trips; the
    per-executor state is the broadcast rule list plus a per-batch
    word cache."""
    rules = [(l, r, l + r) for _, l, r, _f in sorted(merges)]
    bc = df.sparkSession.sparkContext.broadcast((rules,))
    return _encode_pieces(df, id_col, text_col, bc, _encode_word,
                          pattern=pattern, pieces_col=pieces_col,
                          keep_cols=keep_cols)


def fertility_report(df: DataFrame, id_col: str, text_col: str,
                     merges: list[tuple] | None, group_col: str,
                     pattern: str | None = None,
                     unigram_vocab: list[tuple] | None = None,
                     wordpiece_vocab: list[str] | None = None
                     ) -> DataFrame:
    """(group, n_docs, n_tokens, n_pieces, fertility): tokenizer
    fertility — pieces emitted per whitespace word — grouped by
    language/source/domain. THE standard tokenizer-QA number: a
    tokenizer trained on the wrong mix shows fertility blowing up on
    the under-represented languages (each word shatters toward
    characters), and this report is how that's caught before a
    training run burns compute on 2x the sequence length.

    Takes any tokenizer family: pass `merges` for BPE,
    `unigram_vocab` ([(piece, logprob)]) for the unigram-LM
    tokenizer (operators/unigram.unigram_apply), or
    `wordpiece_vocab` ([piece, ...]) for WordPiece
    (operators/wordpiece.wordpiece_apply) — all encoders share the
    (pieces, n_pieces) output contract, so the report is
    tokenizer-agnostic (exactly one of the three must be given).

    Composition: the family's apply — all three run the one
    tokenizer-apply UDF — with keep_cols riding group + text through
    the encode, so the WHOLE report is one scan — a map
    (encode + token_count) straight into the |groups|-row integer
    aggregation, no id-join, nothing wide past the map-side partial
    agg. Fertility divides the two exact bigint sums in double —
    the same expression any SQL engine evaluates bit-identically."""
    from sybil_spark.functions.text import token_count

    n_given = sum(x is not None
                  for x in (merges, unigram_vocab, wordpiece_vocab))
    if n_given != 1:
        raise ValueError("fertility_report: pass exactly one of "
                         "merges / unigram_vocab / wordpiece_vocab")
    if unigram_vocab is not None:
        from sybil_spark.operators.unigram import unigram_apply
        enc = unigram_apply(df, id_col, text_col, unigram_vocab,
                            pattern=pattern,
                            keep_cols=[group_col, text_col])
    elif wordpiece_vocab is not None:
        from sybil_spark.operators.wordpiece import wordpiece_apply
        enc = wordpiece_apply(df, id_col, text_col, wordpiece_vocab,
                              pattern=pattern,
                              keep_cols=[group_col, text_col])
    else:
        enc = bpe_apply(df, id_col, text_col, merges, pattern=pattern,
                        keep_cols=[group_col, text_col])
    nt = token_count(F.col(text_col), pattern).cast("long")
    return (enc.select(F.col(group_col), nt.alias("__nt"),
                       F.col("n_pieces").cast("long").alias("__np"))
               .groupBy(group_col)
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("__nt").alias("n_tokens"),
                    F.sum("__np").alias("n_pieces"))
               .withColumn("fertility",
                           F.col("n_pieces").cast("double")
                           / F.col("n_tokens").cast("double"))
               .orderBy(group_col))
