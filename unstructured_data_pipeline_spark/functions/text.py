"""Text-analysis Column builders for the training-data-pipeline operators.

Everything here is built from JVM-side ``pyspark.sql.functions`` only — no
Python UDFs — so the hot path stays inside whole-stage codegen and scales
to 100 TB of documents.  Each builder has an exact ANSI-SQL mirror used by
the DuckDB oracles in ``__spark_entry__.py``.

Operators: tokenization, token counting (whitespace + BPE-ish regex),
quality scoring (length / stopword / uniqueness ratios), language-ID
heuristic, document fingerprinting, shingling, MinHash, SimHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny multilingual stopword table for the language-ID heuristic; scoring a
# document = fraction of its tokens found in each language's list.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "en"],
    "de": ["der", "die", "das", "und", "ist", "ein", "in", "zu"],
}

# BPE-ish tokenizer regex: runs of letters, runs of digits, or a single
# non-space symbol — a cheap deterministic stand-in for a real BPE vocab.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_ws(text: Column | str) -> Column:
    """Whitespace tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count_ws(text: Column | str) -> Column:
    return F.size(tokens_ws(text))


def token_count_regex(text: Column | str) -> Column:
    """BPE-ish token count via regexp_extract_all (JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0)))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    toks = tokens_ws(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.size(toks)


def uniq_token_ratio(text: Column | str) -> Column:
    toks = tokens_ws(text)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def avg_token_len(text: Column | str) -> Column:
    """Mean token length; exact integer arithmetic until the final divide so
    the DuckDB oracle reproduces it bit-for-bit."""
    toks = tokens_ws(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the lower-cased,
    whitespace-normalized text (exact-dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column, as an array<string>.

    Built by zipping ``n`` shifted ``slice()``s of the token array:
    ``transform(arrays_zip(slice(w,1,k), slice(w,2,k), ...), s -> concat)``.
    Each slice evaluates the array once per ROW.  The naive alternative —
    indexing ``element_at(w, i+j)`` inside a ``transform`` lambda — gets the
    producing expression inlined per ELEMENT by Catalyst (no CSE inside
    lambdas), which is O(words^2) per document; measured 6-10x slower.

    ``greatest(k, 0)`` guards short documents (empty shingle list).
    """
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, k) for j in range(n)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles straight from a text column (convenience; prefer
    :func:`word_shingles_from_tokens` over a materialized array in hot paths
    — see its note on lambda inlining)."""
    return word_shingles_from_tokens(tokens_ws(text), n)


_HEX = "0123456789abcdef"


def hex_nibble_value(digit: Column) -> Column:
    """Value 0..15 of one lowercase hex digit, via position in the hex
    alphabet (same trick works in DuckDB: ``strpos(...) - 1``)."""
    return F.instr(F.lit(_HEX), digit) - 1


def rolling_kgrams(text: Column | str, k: int = 8) -> Column:
    """All RAW character k-grams of a document as array<string> — substr
    only, no hashing, so callers can ``array_distinct`` first and hash the
    (smaller) distinct set.

    Guarded ``sequence``: Spark's sequence(1, 0) yields a DESCENDING [1, 0],
    so short docs must special-case to an empty array.
    """
    c = F.col(text) if isinstance(text, str) else text
    m = F.length(c) - (k - 1)
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.substr(c, i, F.lit(k)))


def rolling_kgram_hashes(text: Column | str, k: int = 8) -> Column:
    """All character k-gram hashes of a document as array<string> — the
    rolling-hash pass of document fingerprinting (Rabin/winnowing style;
    md5 stands in for the rolling polynomial so the DuckDB oracle matches)."""
    return F.transform(rolling_kgrams(text, k), lambda g: F.md5(g))
