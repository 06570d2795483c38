"""Text-analysis column functions for training-data pipelines.

All pure `pyspark.sql.functions` compositions — no Python UDFs — so
they vectorize inside codegen and scale linearly with executors.
Tokenization is a plain single-space split by default (matching the
synthetic corpus); pass `pattern` for regex (BPE-ish) splitting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny high-frequency English function-word list for the language-ID
#: heuristic; deliberately small and deterministic.
EN_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "it", "that", "for"]

#: regex that approximates BPE pre-tokenization: words, numbers, or a
#: single non-space symbol.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column, pattern: str | None = None) -> Column:
    """Whitespace tokens by default; regex *matches* when a pattern is
    given (BPE-ish pre-tokenization). Python twin:
    `tokenize_str` — change BOTH together."""
    if pattern is None:
        return F.split(col, " ")
    return F.regexp_extract_all(col, F.lit(pattern), 0)


def tokenize_str(text: str, pattern: str | None = None) -> list[str]:
    """Python twin of `tokens()` for every place that tokenizes a
    Python string: on the driver (index-serving query paths:
    bm25_index_topk, hybrid_index_topk) and on the executors (the
    one tokenizer-apply UDF, tokenizer_store._encode_pieces, that
    bpe_apply / unigram_apply / wordpiece_apply run). THE single
    definition those callers share — routing them here is what keeps
    index-served results and tokenizer pieces bit-equal to the
    column operators if the tokenizer ever changes
    (test_tokens_column_matches_driver pins the column/python
    agreement)."""
    import re
    if pattern is None:
        return text.split(" ")
    # the whole match, as regexp_extract_all(..., 0) returns it —
    # re.findall would return the capture group instead
    return [m.group(0) for m in re.finditer(pattern, text)]


def token_count(col: Column, pattern: str | None = None) -> Column:
    return F.size(tokens(col, pattern))


def char_count(col: Column) -> Column:
    return F.length(col)


def stopword_count(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    return F.size(F.filter(tokens(col), lambda t: t.isin(*sw)))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    return stopword_count(col, stopwords) / token_count(col)


def lang_id(col: Column, threshold: float = 0.03) -> Column:
    """N-gram-free language-ID heuristic: English if the function-word
    ratio clears `threshold`, else 'other'. A real model slots in as a
    pandas_udf behind the same column contract."""
    return F.when(stopword_ratio(col) > threshold, F.lit("en")) \
            .otherwise(F.lit("other"))


def avg_word_len(col: Column) -> Column:
    """Mean token length = (chars - spaces) / tokens for single-space
    text; exact integer arithmetic until the final divide."""
    n_space = F.length(col) - F.length(F.replace(col, F.lit(" "), F.lit("")))
    return (F.length(col) - n_space).cast("double") / token_count(col)


def quality_score(col: Column) -> Column:
    """Cheap document-quality heuristic in [0,1]: rewards mid-length
    docs and a sane stopword ratio. Deterministic integer/double math
    only, so it is oracle-checkable in plain SQL."""
    tc = token_count(col)
    length_score = F.least(tc, F.lit(100)).cast("double") / F.lit(100.0)
    sw = stopword_ratio(col)
    sw_score = F.when(sw > 0.01, F.lit(1.0)).otherwise(F.lit(0.5))
    return length_score * sw_score


#: (pattern, replacement) chain for PII scrubbing, applied in order
#: (email before phone so phone never eats an address's digits).
#: Patterns stay within the regex subset where Java regex (Spark) and
#: RE2 (DuckDB oracle) agree byte-for-byte.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().-]{6,}\d", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Redact emails / IPv4s / phone-like digit runs — the standard
    pre-training scrub pass. Chained JVM regexp_replace, so it runs
    inside codegen on the scan; extend PII_PATTERNS for more
    categories (SSNs, credit cards) without touching callers."""
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


URL_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def url_domains(col: Column) -> Column:
    """array<string> of the domains of every http(s) URL in the text
    — feeds domain-level quality filtering / mixture weighting (the
    C4-style per-domain pipeline steps)."""
    return F.regexp_extract_all(col, F.lit(URL_PATTERN), 1)


def fingerprint(col: Column, nibbles: int = 8) -> Column:
    """Stable content fingerprint: leading hex of md5 (md5 is available
    and bit-identical in every engine we oracle against)."""
    return F.substring(F.md5(col), 1, nibbles)


def char_entropy(col: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    compression-style quality signal (gibberish and binary spill score
    high, keyboard-mash and repeated-char padding score low; CCNet/C4
    pipelines cut both tails).

    Zero shuffle, zero UDF: sort the char array, then one run-length
    fold accumulates S = Σ c·ln(c) INCREMENTALLY — when a run
    reaches length r the term r·ln(r) − (r−1)·ln(r−1) is added,
    so the fold never needs a second pass over completed runs.
    H = (ln(n) − S/n) / ln 2. The summation order (sorted-char
    position order) and the incremental term shape are part of the
    contract: the DuckDB oracle replays the identical term sequence
    with an ordered list_reduce, making per-document doubles
    bit-equal cross-engine (same recipe as repetition_stats' fold).

    Transcendental parity is handled head-on, not hoped for: the
    JVM's Math.log intrinsic differs from libm/DuckDB ln by 1 ulp on
    ~2% of integer arguments (measured: 37 of the first 2000), and
    log2 is worse (JVM composes ln(x)/ln(2), DuckDB calls native
    log2). So every ln-derived term is QUANTIZED to decimal(38,6)
    through the repo's varchar round-trip before it enters the sum —
    both engines then fold the identical doubles in the identical
    order — and the final entropy is quantized the same way to
    absorb the ln(n) ulp. Entropy resolution 1e-6 bits: far below
    any filtering threshold's sensitivity."""
    dec = "decimal(38,6)"
    cs = F.array_sort(F.split(col, ""))
    n = F.size(cs)
    ln2 = F.lit(0.6931471805599453)  # nearest double to ln 2
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0.0).alias("s"))

    def step(acc, x):
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        rd = run.cast("double")
        # run==1 contributes 0 (1·ln 1 = 0, and the 0·ln 0 limit is
        # handled by never emitting it, not by computing NaN)
        term = F.when(run >= 2,
                      (rd * F.log(rd) - (rd - 1) * F.log(rd - 1))
                      .cast(dec).cast("string").cast("double")) \
                .otherwise(F.lit(0.0))
        return F.struct(x.alias("prev"), run.alias("run"),
                        (acc["s"] + term).alias("s"))

    st = F.aggregate(cs, init, step)
    h = (F.log(n.cast("double")) - st["s"] / n.cast("double")) / ln2
    return F.when(n > 0, h.cast(dec).cast("string").cast("double")) \
            .otherwise(F.lit(0.0))


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Character n-grams as array<string>, one entry per position
    (duplicates kept) — the raw material of trained language-ID
    profiles (Cavnar & Trenkle 1994 / CLD-style). Pure codegen
    substring windows; a text shorter than n chars yields an empty
    array (the sequence() guard — sequence(1,0) would DESCEND)."""
    idx = F.sequence(F.lit(1), F.length(col) - (n - 1))
    # Column.substr takes Column args; F.substring needs literals
    grams = F.transform(idx, lambda i: col.substr(i, F.lit(n)))
    return F.when(F.length(col) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def ngrams(col: Column, n: int = 3) -> Column:
    """Word n-grams as an array<string>, duplicates kept (one entry
    per position). Documents shorter than n words yield a single
    whole-text n-gram (slice truncates at the array end — under ANSI
    mode the old per-position element_at raised
    INVALID_ARRAY_INDEX on such documents)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; distinct set.
    Documents shorter than n words yield a single whole-text shingle."""
    return F.array_distinct(ngrams(col, n))


def repetition_ratio(col: Column, n: int = 3) -> Column:
    """1 - distinct_ngrams/total_ngrams in [0, 1): 0 = no repeated
    n-gram, -> 1 = the document repeats itself. The cheap scan-time
    repetition signal training-data pipelines filter on (boilerplate,
    keyword stuffing, decoding loops)."""
    g = ngrams(col, n)
    return (F.lit(1.0) - F.size(F.array_distinct(g)).cast("double")
            / F.size(g).cast("double"))


def rejection_reason(col: Column, min_tokens: int = 25,
                     lang_threshold: float = 0.03,
                     max_repetition: float = 0.005,
                     min_quality: float = 0.35) -> Column:
    """First failing rule of the standard quality cascade, or 'kept'.

    The data-audit shape every large corpus filter needs: not just a
    keep/drop bit but WHY each document was dropped, so the pipeline
    owner can see the rejection mix shift when a crawl or a threshold
    changes. Rules short-circuit in order (CASE semantics in both
    Spark and SQL), which also guarantees the n-gram repetition ratio
    is never evaluated on docs too short to have 3-grams."""
    return (F.when(token_count(col) < min_tokens, F.lit("too_short"))
             .when(lang_id(col, lang_threshold) != "en",
                   F.lit("non_english"))
             .when(repetition_ratio(col) > max_repetition,
                   F.lit("repetitive"))
             .when(quality_score(col) < min_quality,
                   F.lit("low_quality"))
             .otherwise(F.lit("kept")))


def normalize_text(col: Column, lower: bool = True,
                   strip_punct: bool = True,
                   collapse_ws: bool = True) -> Column:
    """Canonical text normalization for dedup keys (the pre-pass
    near-dup pipelines apply so 'Hello, World!' and 'hello world'
    hash identically): lowercase, strip punctuation/symbols (unicode
    \\p{P}\\p{S} character classes — JVM regex, no Python), collapse
    whitespace runs to single spaces and trim. Pure column
    expressions — compose it in front of exact_keep_first /
    minhash / span_dedup without changing their plans."""
    out = col
    if lower:
        out = F.lower(out)
    if strip_punct:
        out = F.regexp_replace(out, r"[\p{P}\p{S}]+", " ")
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


#: Stop-word set for the Gopher "contains common words" rule —
#: deliberately tiny and fixed so the SQL oracle can inline it.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]


def gopher_rules(col: Column, min_words: int = 50,
                 max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_ratio: float = 0.3,
                 min_alpha_ratio: float = 0.8,
                 min_stop_types: int = 2) -> Column:
    """Gopher-style structural quality rules (Rae et al. 2021,
    "Scaling Language Models", Table A1) as ONE struct column of
    per-rule booleans plus the conjunction — the standard repetition-
    free document filter battery for web-scale pre-training corpora:

      word_count      min_words <= tokens <= max_words
      mean_word_len   in [min_mean_word_len, max_mean_word_len]
      symbol_ratio    ('#' + '...' occurrences) / tokens <= max
      bullet_lines    fraction of lines starting with a bullet <= max
      ellipsis_lines  fraction of lines ending with '...' <= max
      alpha_words     fraction of tokens with an alphabetic char >= min
      stop_words      distinct GOPHER_STOPWORDS present >= min_stop_types
      passes          AND of all seven

    Pure column expressions (string length arithmetic, array
    filters, one array_intersect) — whole-stage codegen at the scan,
    no UDF, no shuffle; every ratio is a double division of exact
    integers, so thresholds compare bit-identically in any engine.
    Counts of '#'/'...' use replace-length arithmetic (non-
    overlapping left-to-right in both Spark and ANSI SQL)."""
    toks = tokens(col)
    n = F.size(toks).cast("double")
    hash_n = (F.length(col)
              - F.length(F.replace(col, F.lit("#"), F.lit("")))) \
        .cast("double")
    ell_n = ((F.length(col)
              - F.length(F.replace(col, F.lit("..."), F.lit(""))))
             / F.lit(3)).cast("double")
    lines = F.split(col, "\n")
    n_lines = F.size(lines).cast("double")
    bullets = F.size(F.filter(
        lines, lambda l: F.substring(l, 1, 2).isin("- ", "* ", "• "))) \
        .cast("double")
    ell_lines = F.size(F.filter(
        lines, lambda l: l.endswith("..."))).cast("double")
    alpha = F.size(F.filter(
        toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
    stops = F.size(F.array_intersect(
        F.array_distinct(F.split(F.lower(col), " ")),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    rules = {
        "word_count": (F.size(toks) >= min_words)
        & (F.size(toks) <= max_words),
        "mean_word_len": (avg_word_len(col) >= min_mean_word_len)
        & (avg_word_len(col) <= max_mean_word_len),
        "symbol_ratio": (hash_n + ell_n) / n <= max_symbol_ratio,
        "bullet_lines": bullets / n_lines <= max_bullet_ratio,
        "ellipsis_lines": ell_lines / n_lines <= max_ellipsis_ratio,
        "alpha_words": alpha / n >= min_alpha_ratio,
        "stop_words": stops >= min_stop_types,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return F.struct(*[v.alias(k) for k, v in rules.items()],
                    passes.alias("passes"))


def _ngram_runs(col: Column, n: int) -> Column:
    """Fold over the SORTED n-gram array producing
    struct(top_chars, dup_chars): top_chars = occurrences x chars of
    the most frequent n-gram (ties -> lexicographically first, the
    deterministic tiebreak an oracle can mirror), dup_chars = Σ over
    n-grams occurring more than once of occurrences x chars. Equal
    n-grams are adjacent after array_sort, so one pass of run-length
    arithmetic replaces a per-document groupBy — zero shuffle, pure
    codegen."""
    g = F.array_sort(ngrams(col, n))
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("best"), F.lit(0).alias("top"),
        F.lit(0).alias("dup"))

    def step(acc, x):
        run = F.when(acc["prev"] == x, acc["run"] + 1) \
               .otherwise(F.lit(1))
        # dup: when a run reaches length r its total contribution is
        # r*len(x); r=2 adds both occurrences at once, each further
        # step adds one more
        added = F.when(run == 2, F.lit(2) * F.length(x)) \
                 .when(run > 2, F.length(x)).otherwise(F.lit(0))
        # top: the MOST FREQUENT n-gram's char mass (count, not
        # mass, decides the argmax — Gopher's definition); strictly
        # greater run wins, so count ties keep the lexicographically
        # first n-gram (sorted iteration order) — the deterministic
        # tiebreak the oracle mirrors
        best = F.greatest(acc["best"], run)
        top = F.when(run > acc["best"], run * F.length(x)) \
               .otherwise(acc["top"])
        return F.struct(x.alias("prev"), run.alias("run"),
                        best.alias("best"), top.alias("top"),
                        (acc["dup"] + added).alias("dup"))
    st = F.aggregate(g, init, lambda acc, x: step(acc, x))
    return F.struct(st["top"].alias("top_chars"),
                    st["dup"].alias("dup_chars"))


def repetition_stats(col: Column, top_ns: tuple = (2, 3, 4),
                     dup_ns: tuple = (5, 6, 7, 8, 9, 10)) -> Column:
    """The Gopher repetition battery (Rae et al. 2021 Table A1,
    lower half) as one struct column: for each n in `top_ns` the
    fraction of characters contained in the document's most
    frequently-occurring n-gram (`top_Ngram_char_frac`), and for
    each n in `dup_ns` the fraction of characters contained in
    n-grams occurring more than once (`dup_Ngram_char_frac`).
    Character mass of an n-gram = occurrences x its character
    length; denominator = document character count. All fractions
    are double divisions of exact integer counts — cross-engine
    bit-stable — and the whole battery is sort+fold array
    expressions: zero shuffle, zero UDF, one pass per n.

    Typical Gopher cuts: top_2 <= 0.20, top_3 <= 0.18, top_4 <= 0.16;
    dup_5 <= 0.15 ... dup_10 <= 0.10. Thresholding is left to the
    caller (compose with gopher_rules' conjunction pattern)."""
    total = F.length(col).cast("double")
    fields = []
    for n in top_ns:
        r = _ngram_runs(col, n)
        fields.append((r["top_chars"] / total)
                      .alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        r = _ngram_runs(col, n)
        fields.append((r["dup_chars"] / total)
                      .alias(f"dup_{n}gram_char_frac"))
    return F.struct(*fields)
