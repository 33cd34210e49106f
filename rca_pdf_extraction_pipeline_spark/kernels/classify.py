"""Page classification kernel (SURVEY.md §2.9).

C1 — keyword cascade, reference ``src/core_analysis.py:438-516``, fully
vectorized over a batch of pages: pandas str ops for the substring
predicates, ``np.select`` for the priority cascade.  Its column twin is
``functions/classify_expr.keyword_cascade`` (tests/test_kernels_classify.py
pins the two equal).  C2, the structural cascade, has one form: the
column expressions ``classify_expr.structural_cascade`` and
``gap_regular``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import (
    COVER_KEYWORDS,
    PLOT_KEYWORDS,
    SUMMARY_KEYWORD,
    TABLE_KEYWORDS,
)


def classify_pages_keyword(texts: pd.Series) -> pd.DataFrame:
    """C1 keyword cascade over page texts.

    Returns DataFrame (page_type, confidence, reason) aligned with input.
    Priority order and constants mirror reference :455-516 exactly.
    """
    upper = texts.fillna("").astype(str).str.upper()
    length = texts.fillna("").astype(str).str.len().to_numpy()

    has_summary = upper.str.contains(SUMMARY_KEYWORD, regex=False).to_numpy()

    plot_hit = np.full(len(upper), -1)
    for i, kw in enumerate(PLOT_KEYWORDS):
        m = upper.str.contains(kw, regex=False).to_numpy()
        plot_hit = np.where((plot_hit < 0) & m, i, plot_hit)

    cover_hit = np.full(len(upper), -1)
    for i, kw in enumerate(COVER_KEYWORDS):
        m = upper.str.contains(kw, regex=False).to_numpy()
        cover_hit = np.where((cover_hit < 0) & m, i, cover_hit)

    table_score = np.zeros(len(upper), dtype=np.int64)
    for kw in TABLE_KEYWORDS:
        table_score += upper.str.contains(kw.upper(), regex=False).to_numpy()

    conds = [
        has_summary,
        plot_hit >= 0,
        cover_hit >= 0,
        table_score >= 3,
        length < 50,
        (length > 500) & (table_score == 0),
    ]
    types = ["table", "plot", "cover", "table", "other", "text"]
    confs = [0.95, 0.85, 0.80, 0.70, 0.60, 0.65]

    page_type = np.select(conds, types, default="other")
    confidence = np.select(conds, confs, default=0.50)

    plot_kw = np.select(
        [plot_hit == i for i in range(len(PLOT_KEYWORDS))], PLOT_KEYWORDS, default=""
    )
    cover_kw = np.select(
        [cover_hit == i for i in range(len(COVER_KEYWORDS))], COVER_KEYWORDS, default=""
    )
    reasons = np.select(
        conds,
        [
            "Contains 'SUMMARY OF ROUTINE CORE ANALYSES'",
            "Contains plot keyword: ",  # keyword appended below
            "Contains cover keyword: ",
            "Contains N table keywords",  # N substituted below
            "Minimal extractable text",
            "Dense text without table markers",
        ],
        default="Unable to classify",
    ).astype(object)
    sel = np.select(conds, np.arange(len(conds)), default=-1)
    reasons = np.where(sel == 1, reasons + plot_kw, reasons)
    reasons = np.where(sel == 2, reasons + cover_kw, reasons)
    reasons = np.where(
        sel == 3,
        pd.Series(table_score).map(lambda s: f"Contains {s} table keywords").to_numpy(),
        reasons,
    )

    return pd.DataFrame(
        {"page_type": page_type, "confidence": confidence, "reason": reasons},
        index=texts.index,
    )
