"""Text-analysis column expressions for large-scale corpus pipelines.

Extension surface (BASELINE.json north star): the reference has no text
processing, but a training-data pipeline at 100 TB needs cheap, JVM-side
text features. Everything here is built-in-function composition (regexp,
split, length, xxhash64) — no Python in the hot path — so Catalyst keeps
the whole pipeline in codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic
# language ID. Deliberately small and deterministic — this is a pipeline
# filter, not a classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "und", "die", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "de", "que", "los", "una"],
}


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def word_tokens(text: Column | str) -> Column:
    """Lowercased word tokens (BPE-ish: letters/digits runs)."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(r"[\p{L}\p{N}]+"), 0)


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """All character n-grams (shingles) of the normalized text, as an array.

    Text shorter than ``n`` characters gives the one-element array of the
    whole lowered text; NULL text gives NULL.

    One ``regexp_extract_all`` pass, linear in the text length: an empty
    match at every position whose lookahead captures the next ``n``
    characters (``(?s)`` so line breaks count as characters). The obvious
    ``transform(sequence(1, len-n+1), i -> substr(lower(text), i, n))``
    is quadratic: a higher-order-function lambda runs interpreted, with no
    common-subexpression elimination, so ``lower(text)`` is rebuilt for
    every shingle (0.69 s of executor CPU against 0.08 s to explode the
    distinct 5-grams of 500 ~300-char documents). The ``(?!\\p{Cs})``
    guard keeps the match on code-point boundaries: after an empty match
    Java's matcher steps one UTF-16 unit, which lands on the low half of
    a surrogate pair (an emoji, a math letter) and would emit one extra
    shingle starting there.
    """
    t = F.lower(_c(text))
    return F.when(F.length(t) < n, F.array(t)).otherwise(
        F.regexp_extract_all(t, F.lit(r"(?s)(?!\p{Cs})(?=(.{%d}))" % n), 1)
    )


def stopword_hits(text: Column | str, words: list[str]) -> Column:
    """Number of stopword-marker occurrences (word-boundary matches)."""
    t = F.lower(_c(text))
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(t, F.lit(pattern), 0))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Cheap quality-scoring features: length, whitespace/punct/digit
    ratios, mean word length. All zero-safe."""
    t = _c(text)
    n = F.length(t)
    nz = F.when(n == 0, F.lit(1)).otherwise(n).cast("double")
    n_space = n - F.length(F.regexp_replace(t, r"\s", ""))
    n_punct = n - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    n_digit = n - F.length(F.regexp_replace(t, r"[0-9]", ""))
    toks = token_count(t)
    return {
        "n_chars_calc": n,
        "n_tokens": toks,
        "space_ratio": (n_space / nz),
        "punct_ratio": (n_punct / nz),
        "digit_ratio": (n_digit / nz),
        "mean_token_len": F.when(toks == 0, F.lit(0.0)).otherwise(
            (n - n_space).cast("double") / toks
        ),
    }


def doc_fingerprint(text: Column | str) -> Column:
    """64-bit content fingerprint of normalized text (xxhash64).

    Normalization: lowercase + whitespace-collapse, so trivially
    reformatted duplicates collide (the exact-dedup fast path).
    """
    norm = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.xxhash64(norm)
