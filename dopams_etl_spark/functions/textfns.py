"""Text-analysis column expressions (training-data pipeline surface).

Beyond-reference operators required by the north star: language-ID
(n-gram/stopword heuristic), quality scoring (length/punct/stopword ratios),
token counting, shingling for MinHash, document fingerprinting. All pure JVM
column expressions — at 100 TB these run inside whole-stage codegen with no
Python boundary.

The reference's closest analogs are its name-normalization and keyword
heuristics (``brief_facts_ai/main.py:136–233``,
``etl-persons/etl_persons.py:158–283``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dopams_etl_spark.functions.ids import md5_words

# Tiny per-language stopword seeds for the heuristic language-ID.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "für"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(_c(col))), r"\s+")


def token_count(col: Column | str) -> Column:
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


# GPT-2-style pre-tokenizer split (shape of the public openai/gpt-2
# ``encoder.py`` pattern), restated lookahead-free and ASCII-classed so
# Java regex (Spark) and RE2 (DuckDB/Trino) match identically — RE2 has
# no lookahead, and \p classes differ subtly across engines. Contractions
# ('s 'll 've …), letter runs, digit runs, punctuation runs, whitespace.
BPE_SPLIT_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s']+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate LLM token count: number of GPT-2-style pre-tokenizer
    segments. An upper-bound proxy for BPE token counts (every BPE token
    boundary is a segment boundary before merges) that needs no vocab —
    the standard budget heuristic for corpus sizing."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_SPLIT_PATTERN), 0))


def punct_ratio_raw(col: Column | str) -> Column:
    """Unrounded punctuation ratio — raw IEEE division so composites built
    on it stay bitwise-reproducible across engines."""
    c = _c(col)
    total = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    return F.when(total > 0, (total - stripped) / total.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    return F.round(punct_ratio_raw(col), 6)


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    words = list(STOPWORDS[lang])
    return F.size(F.filter(tokens(col), lambda t: t.isin(words)))


def stopword_ratio_raw(col: Column | str, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, lang) / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return F.round(stopword_ratio_raw(col, lang), 6)


def lang_id(col: Column | str) -> Column:
    """Heuristic language-ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when no language scores a hit.

    r15 (guide §4.1, the word_shingles let-binding move): the stopword
    filters are interpreted HOFs referenced 2-3× each across the
    greatest/when chain, so the tokenize + 4 filters re-ran per
    reference. Let-bound twice through one-element transforms — tokens
    once per row, each hit count once — the argmax reads struct fields.
    Same expressions ⇒ identical output (A/B: 0 row diff, −29%)."""

    def _outer(tk: Column) -> Column:
        fields = []
        for lang in STOPWORDS:
            words = list(STOPWORDS[lang])
            fields.append(F.size(F.filter(tk, lambda t: t.isin(words))).alias(lang))

        def _inner(h: Column) -> Column:
            best = F.greatest(*[h[lang] for lang in STOPWORDS])
            expr = F.when(best <= 0, F.lit("und"))
            # Deterministic tie-break: language key order.
            for lang in sorted(STOPWORDS):
                expr = expr.when(h[lang] == best, F.lit(lang))
            return expr.otherwise(F.lit("und"))

        return F.transform(F.array(F.struct(*fields)), _inner)[0]

    return F.transform(F.array(tokens(col)), _outer)[0]


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length sweet-spot + low punctuation +
    healthy English stopword density (the classic C4-style heuristics).

    No rounding anywhere: raw IEEE arithmetic in a fixed evaluation order
    is bitwise-reproducible across engines, while round() at any digit can
    land on a .5 tie where engines' rounding modes disagree.
    """
    n = token_count(col)
    length_ok = F.when((n >= 20) & (n <= 10000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct_ok = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio_raw(col) * 4.0)
    stop_ok = F.least(F.lit(1.0), stopword_ratio_raw(col) * 5.0)
    return 0.4 * length_ok + 0.3 * punct_ok + 0.3 * stop_ok


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (for MinHash/Jaccard dedup).
    NULL and blank/whitespace-only text → empty array — the shared
    dedup-family null-text convention (r14): without the explicit NULL
    branch the ``concat_ws`` fallback manufactures a ``''`` shingle
    from NULL text that can exact-match/bloom-hit engine-side while
    every SQL oracle's NULL-propagating ``||`` sees no shingle at all
    (reference analog: every text operator guards blank input,
    ``brief_facts_ai/main.py:136-144``)."""
    # r15 (guide §4.1): shingles assemble via a zip_with chain over
    # shifted slices instead of transform(idx, i -> slice(toks, ...)).
    # A lambda body re-evaluates every embedded subexpression PER
    # ELEMENT (no subexpression elimination inside higher-order
    # functions), so the old form re-ran trim+lower+regex-split of the
    # whole document once per shingle — O(tokens²) per row. zip_with
    # evaluates its array operands once per ROW; the lambda touches only
    # its own variables. Output strings are byte-identical
    # (concat(x,' ',y) ≡ concat_ws(' ', [x, y]) for the non-NULL tokens
    # split produces; zip_with's NULL padding past the shorter slice is
    # cut by the final slice to count-n+1 entries).
    #
    # r15 follow-up: the whole body is let-bound through a one-element
    # transform() so the tokenize runs ONCE per row — HOF chains run
    # interpreted, and the interpreted CSE runtime does not dedupe the
    # ~n references to tokens(col) across the chain/branches (measured
    # −17% on the shingle explode, row-identical).
    def _body(tk: Column) -> Column:
        count = F.size(tk)
        sh = tk
        for j in range(1, n):
            sh = F.zip_with(
                sh,
                F.slice(tk, j + 1, F.greatest(count - j, F.lit(1))),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        return F.when(
            count >= n,
            F.array_distinct(F.slice(sh, 1, count - n + 1)),
        ).otherwise(F.array(F.concat_ws(" ", tk)))

    return F.when(
        _c(col).isNull() | (F.trim(_c(col)) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.transform(F.array(tokens(col)), _body)[0])


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Array of distinct character n-grams of normalized text.

    r15 (guide §4.1): built from a per-character split + zip_with chain,
    not transform(idx, i -> norm.substr(i, n)) — a lambda body
    re-evaluates embedded subexpressions per ELEMENT, so the old form
    re-ran the whitespace regex_replace of the whole document once per
    character position (O(len²) per row). Outputs are identical:
    concat of n consecutive single-character splits ≡ substr(i, n)."""
    # r15 follow-up (same move as word_shingles): let-bind the split
    # char array through a one-element transform() so the normalize +
    # split run ONCE per row — interpreted HOF chains don't CSE the
    # repeated references. size(cs) ≡ length(norm) (single-char split)
    # and array_join(cs, '') ≡ norm, so the body needs only ``cs``.
    norm = F.lower(F.regexp_replace(_c(col), r"\s+", " "))

    def _body(cs: Column) -> Column:
        length = F.size(cs)
        sh = cs
        for j in range(1, n):
            sh = F.zip_with(
                sh,
                F.slice(cs, j + 1, F.greatest(length - j, F.lit(1))),
                lambda x, y: F.concat(x, y),
            )
        return F.when(
            length >= n, F.array_distinct(F.slice(sh, 1, length - n + 1))
        ).otherwise(F.array(F.array_join(cs, "")))

    return F.transform(F.array(F.split(norm, "")), _body)[0]


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace/case-normalized text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " ")))


# PII scrubbing (training-corpus privacy pass; no reference analog — the
# reference stores PII on purpose, a training pipeline must strip it).
# ASCII-only classes and no lookahead/boundaries beyond \b, so Java regex
# (Spark) and RE2 (DuckDB/Trino) match the same spans. Replacement order
# matters: emails first (their local part can contain digits), then SSN
# (3-2-4 digit shape), then phone.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\([0-9]{3}\) [0-9]{3}-[0-9]{4}",
}


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern in the raw text."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(PII_PATTERNS[kind]), 0))


def redact_pii(col: Column | str) -> Column:
    """Replace every PII span with a typed placeholder (``<EMAIL>``,
    ``<SSN>``, ``<PHONE>``), applied in PII_PATTERNS order."""
    out = _c(col)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


# Hashed-feature linear model scoring ("model inference as a column
# expression"). A fastText-shaped quality classifier reduces to: hash each
# token into one of B buckets, look the bucket's weight up in a broadcast
# table, average, squash. With B small the weight table inlines as an
# array LITERAL, so scoring is pure whole-stage-codegen arithmetic — no
# join, no UDF, no shuffle beyond the source scan. Weights here are
# deterministically seeded (md5 of "qw-<j>") so any engine — or a SQL
# oracle — regenerates the identical model; a real deployment swaps in
# trained weights, same plumbing.
HASHED_MODEL_BUCKETS = 64


def hashed_model_weights(buckets: int = HASHED_MODEL_BUCKETS) -> list[float]:
    import hashlib

    return [
        (int(hashlib.md5(f"qw-{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000) / 1000.0
        for j in range(buckets)
    ]


def hashed_model_score(col: Column | str, buckets: int = HASHED_MODEL_BUCKETS) -> Column:
    """Mean bucket weight over the document's tokens, squashed by a
    logistic; NULL for token-less documents. Bucket = first 32 md5 bits
    mod ``buckets`` — replicable in any engine with a standard md5."""
    warr = F.array(*[F.lit(w) for w in hashed_model_weights(buckets)])
    toks = tokens(col)
    wsum = F.aggregate(
        F.transform(
            toks,
            lambda w: F.element_at(
                warr,
                (md5_words(F.md5(w))[0] % buckets + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mean = wsum / F.size(toks)
    return F.when(
        F.trim(_c(col)) != "", F.lit(1.0) / (F.lit(1.0) + F.exp(-mean))
    )
