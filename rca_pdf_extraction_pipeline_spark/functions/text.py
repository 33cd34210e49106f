"""Text primitives for the training-data pipeline (tokenize, ratios,
language-ID heuristics) — pure column expressions, DuckDB-twinned.

The reference pipeline's scalar functions X1-X3 (whitespace normalize,
case fold, substring search — core_analysis.py:222, 452, 455-491) are
the same idiom; these generalize them to corpus analytics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny deterministic English stopword set for the n-gram/stopword
#: language-ID heuristic (public heuristic, e.g. CCNet-style filters)
EN_STOPWORDS: list[str] = [
    "the", "and", "a", "of", "to", "in", "is", "on", "for", "it",
    "with", "as", "at", "by", "from",
]


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped.

    DuckDB twin: ``list_filter(string_split(x, ' '), t -> t != '')``.
    """
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def n_tokens(col: Column) -> Column:
    return F.size(tokens(col))


def bigrams(toks: Column) -> Column:
    """Word-bigram array over a token array (empty below 2 tokens) —
    built as zip_with over two shifted slices, one pass, no explode.

    DuckDB twin over a ``toks`` list column:
    ``CASE WHEN len(toks) >= 2 THEN list_transform(
    generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END``.
    """
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram shingles (order-sensitive), the standard MinHash
    unit (Broder 1997). Falls back to the whole text as one shingle
    when the document has fewer than k tokens.

    DuckDB twin:
    ``CASE WHEN len(toks) >= k THEN list_transform(
    generate_series(1, len(toks)-k+1), i -> toks[i]||' '||...||toks[i+k-1])
    ELSE [x] END``
    """
    toks = tokens(col)
    n = F.size(toks)

    def one(i: Column) -> Column:
        parts = [F.element_at(toks, i + j) for j in range(k)]
        return F.concat_ws(" ", *parts)

    return F.when(n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), one)) \
            .otherwise(F.array(col))


def shingle_set(col: Column, k: int = 3) -> Column:
    """Distinct shingles — the set MinHash/Jaccard/SimHash operate on."""
    return F.array_distinct(shingles(col, k))


def normalize_for_dedup(col: Column) -> Column:
    """Canonical dedup key text (the C4/RefinedWeb-style "fuzzy exact"
    normalization): casefold, strip ASCII punctuation, collapse
    whitespace — so case/punctuation variants of the same content hash
    identically.

    DuckDB twin: ``trim(regexp_replace(regexp_replace(lower(x),
    '[!-/:-@\\[-`{-~]', '', 'g'), ' +', ' ', 'g'))`` (the three ASCII
    punctuation ranges, avoiding locale-dependent classes).
    """
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[!-/:-@\[-`{-~]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


#: GPT-2-style pre-tokenizer classes, simplified to the engine-portable
#: core (letter runs | digit runs | single non-alnum-non-space marks) —
#: the "BPE-ish" token unit used for token-budget accounting when the
#: real tokenizer is out-of-engine.  ASCII classes only, so Java regex
#: and RE2-family engines agree byte-for-byte.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]"


def bpe_tokens(col: Column) -> Column:
    """Sub-word-ish tokens under ``BPE_TOKEN_RE``.

    DuckDB twin: ``regexp_extract_all(x, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')``.
    """
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)


def alpha_chars(col: Column) -> Column:
    """Count of ASCII letters. DuckDB: length(regexp_replace(x, '[^a-zA-Z]', '', 'g'))."""
    return F.length(F.regexp_replace(col, "[^a-zA-Z]", ""))


def digit_chars(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^0-9]", ""))


def stopword_ratio(col: Column) -> Column:
    """share of tokens that are English stopwords (language-ID signal)."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def predict_lang(col: Column) -> Column:
    """'en' if the stopword ratio is at least 0.03 else 'und'."""
    return F.when(stopword_ratio(col) >= 0.03, F.lit("en")) \
            .otherwise(F.lit("und"))
