"""Page classification as pure column expressions.

C1: ``keyword_cascade`` is the column twin of
kernels/classify.classify_pages_keyword (reference
src/core_analysis.py:438-516): the same priority cascade, confidences
and reason strings, but expressed as a `when()` chain so it runs
JVM-side inside WholeStageCodegen — the right form when the page text
is already a flat column (corpus analytics) rather than nested spans
(the extraction pipeline, which uses the pandas kernel).

C2: ``structural_cascade`` and its A7 input ``gap_regular`` are the one
form of the structural classifier (reference src/page_classifier.py);
``operators/extraction.classify_documents_structural`` feeds them
per-page aggregates of the span geometry.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    BLANK_THRESHOLD,
    COVER_KEYWORDS,
    GAP_REGULARITY_RATIO,
    IMAGE_COVERAGE_THRESHOLD,
    MIN_AVG_GAP,
    MIN_GRID_LINES,
    MIN_LINES_FOR_TABLE,
    PLOT_KEYWORDS,
    SUMMARY_KEYWORD,
    TABLE_KEYWORDS,
)


def _contains(upper_col: Column, kw: str) -> Column:
    return upper_col.contains(kw.upper())


def table_keyword_score(text: Column) -> Column:
    """A5: count of table keywords present (core_analysis.py:130-137, 484)."""
    up = F.upper(text)
    score = F.lit(0)
    for kw in TABLE_KEYWORDS:
        score = score + F.when(_contains(up, kw), 1).otherwise(0)
    return score


def _first_keyword(up: Column, keywords: list[str]) -> Column:
    """First matching keyword in list order, else ''."""
    expr = F.lit("")
    for kw in reversed(keywords):
        expr = F.when(_contains(up, kw), F.lit(kw)).otherwise(expr)
    return expr


def keyword_cascade(text: Column) -> Column:
    """struct(page_type, confidence, reason) — C1 over a text column.

    Priority order mirrors the reference exactly:
    summary-title > plot > cover > >=3 table keywords > short > dense.
    A NULL text reads as "" (the kernel's ``fillna``): minimal text.
    """
    text = F.coalesce(text, F.lit(""))
    up = F.upper(text)
    length = F.length(text)
    score = table_keyword_score(text)
    plot_kw = _first_keyword(up, PLOT_KEYWORDS)
    cover_kw = _first_keyword(up, COVER_KEYWORDS)

    branch = (
        F.when(_contains(up, SUMMARY_KEYWORD),
               F.struct(F.lit("table").alias("page_type"),
                        F.lit(0.95).alias("confidence"),
                        F.lit("Contains 'SUMMARY OF ROUTINE CORE ANALYSES'").alias("reason")))
        .when(plot_kw != "",
              F.struct(F.lit("plot").alias("page_type"),
                       F.lit(0.85).alias("confidence"),
                       F.concat(F.lit("Contains plot keyword: "), plot_kw).alias("reason")))
        .when(cover_kw != "",
              F.struct(F.lit("cover").alias("page_type"),
                       F.lit(0.80).alias("confidence"),
                       F.concat(F.lit("Contains cover keyword: "), cover_kw).alias("reason")))
        .when(score >= 3,
              F.struct(F.lit("table").alias("page_type"),
                       F.lit(0.70).alias("confidence"),
                       F.concat(F.lit("Contains "), score.cast("string"),
                                F.lit(" table keywords")).alias("reason")))
        .when(length < 50,
              F.struct(F.lit("other").alias("page_type"),
                       F.lit(0.60).alias("confidence"),
                       F.lit("Minimal extractable text").alias("reason")))
        .when((length > 500) & (score == 0),
              F.struct(F.lit("text").alias("page_type"),
                       F.lit(0.65).alias("confidence"),
                       F.lit("Dense text without table markers").alias("reason")))
        .otherwise(
            F.struct(F.lit("other").alias("page_type"),
                     F.lit(0.50).alias("confidence"),
                     F.lit("Unable to classify").alias("reason")))
    )
    return branch


def structural_cascade(h_lines: Column, v_lines: Column, text_blocks: Column,
                       char_count: Column, image_coverage: Column,
                       gap_regular: Column, page_number: Column) -> Column:
    """C2 structural classifier as a pure column cascade (reference
    src/page_classifier.py:51-99, thresholds :10-14).

    Returns struct(page_type, confidence)."""
    has_grid = (h_lines >= MIN_GRID_LINES) & (v_lines >= MIN_GRID_LINES)
    many_lines = (h_lines + v_lines) >= MIN_LINES_FOR_TABLE
    structured = text_blocks >= 3
    page1 = page_number == 1

    def s(t: str, c: float) -> Column:
        return F.struct(F.lit(t).alias("page_type"), F.lit(c).alias("confidence"))

    return (
        F.when((char_count < BLANK_THRESHOLD) & (image_coverage < 0.1), s("blank", 0.95))
        .when(page1 & (char_count < 500) & (image_coverage > 0.1), s("cover", 0.7))
        .when(page1 & (text_blocks < 5) & (char_count < 300), s("cover", 0.6))
        .when(image_coverage > IMAGE_COVERAGE_THRESHOLD, s("figure", 0.85))
        .when(has_grid, s("table", 0.9))
        .when(many_lines & structured & gap_regular, s("table", 0.75))
        .when(many_lines & structured, s("mixed", 0.6))
        .when((char_count > 500) & ((h_lines + v_lines) < 5), s("narrative", 0.8))
        .when(structured, s("mixed", 0.5))
        .otherwise(s("unknown", 0.3))
    )


def gap_regular(ys: Column) -> Column:
    """A7 line-gap regularity (reference src/page_classifier.py:101-125)
    over one page's horizontal-line y positions, sorted ascending: at
    least 3 lines, a mean gap of at least ``MIN_AVG_GAP``, and more than
    ``GAP_REGULARITY_RATIO`` of the gaps within [0.5, 1.5] x the mean.

    The mean is a left fold over the gaps in sorted order.
    ``(max - min) / (n - 1)`` is equal in exact arithmetic but can differ
    in the last bit, which flips pages on the ``MIN_AVG_GAP`` and
    [0.5, 1.5] edges.  ``ys`` should be a column reference: the
    expression reads it more than once."""
    gaps = F.transform(F.slice(ys, 2, F.size(ys)),
                       lambda y, i: y - F.get(ys, i))
    n_gaps = F.size(ys) - 1

    def finish(total: Column) -> Column:
        avg = total / n_gaps
        n_regular = F.size(F.filter(
            gaps, lambda g: (g >= 0.5 * avg) & (g <= 1.5 * avg)))
        return (avg >= MIN_AVG_GAP) & (n_regular / n_gaps > GAP_REGULARITY_RATIO)

    return F.when(F.size(ys) >= 3,
                  F.aggregate(gaps, F.lit(0.0), lambda acc, g: acc + g, finish)
                  ).otherwise(False)
