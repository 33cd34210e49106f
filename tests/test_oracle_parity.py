"""Every ``queries()`` entry against its DuckDB oracle at sf0.001 (the
``tools/check_entry.py`` sweep, through its :func:`compare`), and the
guard that keeps each oracle building block of the entry module
written once."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from test_entry_contract import SF_DIR

import __spark_entry__ as entry

ENTRY = Path(entry.__file__)
sys.path.insert(0, str(ENTRY.parent / "tools"))
import check_entry  # noqa: E402

#: the guard's window: 6 consecutive lines separate every copied CTE
#: chain from the short idioms (one token split, one join) that recur
#: by nature
WINDOW = 6


@pytest.fixture(scope="module")
def duck():
    con = check_entry.connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_matches_its_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.sql(entry.oracle_sql()[name]).df()
    assert check_entry.compare(sdf, odf) == []


def repeated_windows(lines: list[str]) -> list[str]:
    """One line per run of windows of ``WINDOW`` consecutive stripped,
    non-blank lines that already appeared earlier in ``lines``: where
    the run starts, where its first window was first seen, and that
    window's first line."""
    kept = [(i + 1, line.strip()) for i, line in enumerate(lines)
            if line.strip()]
    first_seen: dict[tuple[str, ...], int] = {}
    runs, last = [], None
    for k in range(len(kept) - WINDOW + 1):
        window = tuple(text for _, text in kept[k:k + WINDOW])
        at = kept[k][0]
        if window in first_seen:
            if last is None or k != last + 1:
                runs.append(f"line {at} repeats line {first_seen[window]}: "
                            f"{window[0]}")
            last = k
        else:
            first_seen[window] = at
    return runs


def test_repeated_windows_finds_a_copied_chain():
    chain = ["cand AS (", "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b",
             "FROM keys a JOIN keys b", "ON a.band = b.band",
             "AND a.doc_id < b.doc_id)", "SELECT id_a, id_b FROM cand"]
    lines = chain + ["", "other = 1"] + [f"    {t}" for t in chain]
    assert repeated_windows(lines) == [
        "line 9 repeats line 1: cand AS ("]
    assert repeated_windows(chain[:-1] + ["x"] + chain[:-1]) == []


def test_no_six_line_window_repeats():
    """Each CTE chain that several oracles share (MinHash LSH, k-means,
    SQ8, winnow grams, BM25, HLL, the dHash folds, the interleaved
    spans, ...) is defined once and composed; a pasted copy of six or
    more lines anywhere in the entry module fails here."""
    runs = repeated_windows(ENTRY.read_text().splitlines())
    assert runs == [], (f"{len(runs)} repeated {WINDOW}-line windows in "
                        f"{ENTRY.name}:\n" + "\n".join(runs))
