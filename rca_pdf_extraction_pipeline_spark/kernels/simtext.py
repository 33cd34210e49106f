"""Fuzzy header matching / consolidation kernels (J5, J6, P3, X9).

Reference: ``/root/reference/src/table_extractor.py``
  * similarity ratio        :198      (difflib.SequenceMatcher on lowercase)
  * header-set match        :191-202  (same length, ≥80% positions ≥0.8)
  * best-match alignment    :204-239  (per source header argmax similarity)
  * consolidation           :136-189  (group by match, largest group wins)

difflib ratio is kept bit-exact (the reference's tests pin it); the group
count is tiny (tables per doc), so the sequential fold over groups is
driver-of-the-kernel logic, while each ratio evaluation is O(len) C code.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np

HEADER_SIMILARITY_THRESHOLD = 0.8


def ratio(a: str, b: str) -> float:
    """X9: difflib similarity on lowercased strings (reference :198)."""
    return SequenceMatcher(None, a.lower(), b.lower()).ratio()


def headers_match(h1: list[str], h2: list[str]) -> bool:
    """J5 (reference :191-202)."""
    if len(h1) != len(h2):
        return False
    matches = sum(
        1 for a, b in zip(h1, h2) if ratio(a, b) >= HEADER_SIMILARITY_THRESHOLD
    )
    return matches >= len(h1) * 0.8


def align_rows(
    source_headers: list[str],
    rows: list[list[str]],
    target_headers: list[str],
) -> list[list[str]]:
    """J6 (reference :204-239): remap each row's cells to target order via
    per-source-header argmax similarity."""
    if source_headers == target_headers:
        return rows
    mapping: dict[int, int] = {}
    for si, sh in enumerate(source_headers):
        sims = np.array([ratio(sh, th) for th in target_headers])
        bi = int(sims.argmax()) if len(sims) else None
        if bi is not None and sims[bi] >= HEADER_SIMILARITY_THRESHOLD:
            mapping[si] = bi
    aligned = []
    for row in rows:
        new_row = [""] * len(target_headers)
        for si, v in enumerate(row):
            if si in mapping:
                new_row[mapping[si]] = v
        aligned.append(new_row)
    return aligned


def consolidate_tables(
    tables: list[dict],
) -> dict:
    """P3 (reference :136-189): fuzzy-group tables by header similarity,
    keep the group with most rows, align members to its header order.

    ``tables`` items: {"headers": [...], "original_headers": [...],
    "rows": [[...], ...]}.  Returns {"headers", "original_headers", "rows"}.
    """
    if not tables:
        return {"headers": [], "original_headers": [], "rows": []}
    groups: list[tuple[list[str], list[str], list[dict]]] = []
    for t in tables:
        for canonical, orig, members in groups:
            if headers_match(canonical, t["headers"]):
                members.append(t)
                break
        else:
            groups.append(
                (
                    t["headers"],
                    t.get("original_headers") or list(t["headers"]),
                    [t],
                )
            )
    canonical, orig, members = max(
        groups, key=lambda g: sum(len(t["rows"]) for t in g[2])
    )
    rows: list[list[str]] = []
    for t in members:
        rows.extend(align_rows(t["headers"], t["rows"], canonical))
    assert len(canonical) == len(orig)
    for r in rows:
        assert len(r) == len(canonical)
    return {"headers": canonical, "original_headers": orig, "rows": rows}
