"""CSV-injection sanitizer kernel (X8) + BOM CSV writing helpers.

Reference: ``/root/reference/src/output/csv_sanitizer.py:8-51`` — cells whose
first character is one of ``= + - @`` are prefixed with ``'`` UNLESS the whole
value is one of the safe merged-cell indicators (``+ ** - <0.0001 <``).
"""

from __future__ import annotations

import csv
import io

import numpy as np
import pandas as pd

from ..config import FORMULA_CHARS, SAFE_INDICATORS


def sanitize_value(value: str) -> str:
    """Scalar form, for headers and tests."""
    if not value:
        return value
    if value in SAFE_INDICATORS:
        return value
    if value.startswith(FORMULA_CHARS):
        return "'" + value
    return value


def sanitize_series(values: pd.Series) -> pd.Series:
    """Vectorized form over a string Series."""
    s = values.fillna("").astype(str)
    first = s.str[0].fillna("")
    dangerous = first.isin(list(FORMULA_CHARS)) & ~s.isin(SAFE_INDICATORS) & (s != "")
    return pd.Series(np.where(dangerous, "'" + s, s), index=values.index)


def rows_to_csv_bytes(headers: list[str], rows: list[list[str]]) -> bytes:
    """Render a small parity artifact exactly as the reference does:
    UTF-8 BOM, csv module quoting, sanitized headers (reference
    core_analysis.py:822-843, csv_sanitizer.py:54-81)."""
    buf = io.StringIO(newline="")
    # the reference's committed golden artifacts are git-eol-normalized to \n
    writer = csv.writer(buf, lineterminator="\n")
    writer.writerow([sanitize_value(h) for h in headers])
    writer.writerows(rows)
    return b"\xef\xbb\xbf" + buf.getvalue().encode("utf-8")
