"""Parity artifact sinks K1-K4 (reference src/core_analysis.py:777-970).

The reference's deliverables are three small files per document —
extraction CSV, classification JSON, header-verification report — plus
a legacy bundled JSON. At cluster scale these are per-document summary
artifacts a few KB each: the DataFrames stay distributed and only the
already-aggregated tiny results are rendered driver-side, exactly like
the reference writes them from its in-memory lists.

Byte parity with the committed goldens
(`/root/reference/data/output/spec/*`) is pinned by tests:
  * K1 CSV      — kernels/sanitize.rows_to_csv_bytes (utf-8-sig BOM,
    injection escaping) — byte-identical.
  * K2 JSON     — flat {"page_N": type} dict, json indent=2 —
    byte-identical.
  * K4 report   — fixed layout, "\\n"-joined, no trailing newline —
    byte-identical modulo the Generated timestamp line.
  * K3 bundle   — legacy format (no golden committed in the reference);
    shape-tested with the reference's union-typed cells (float | str |
    None) reconstructed from the canonical string cells.
"""

from __future__ import annotations

import json
from datetime import datetime

from ..config import MERGED_INDICATORS

#: cells whose merged-indicator strings are preserved un-typed
_STR_OK = frozenset(MERGED_INDICATORS)


def classification_json_bytes(pages: list[tuple[int, str]]) -> bytes:
    """K2 (reference :847-867): flat {"page_N": type} dict, indent=2."""
    data = {f"page_{p}": t for p, t in sorted(pages)}
    return json.dumps(data, indent=2).encode("utf-8")


def header_verification_report(
    verified: bool,
    reference_page: int | None,
    pages_checked: list[int],
    reference_headers: list[str],
) -> bytes:
    """K4 (reference :869-943): human-readable verification report,
    stamped with the current time.  The mismatch list of an unverified
    report is left empty."""
    lines = [
        "Header Verification Report",
        "=" * 26,
        f"Generated: {datetime.now().strftime('%Y-%m-%d %H:%M:%S')}",
        "",
    ]
    if reference_page is not None:
        lines.append(f"Reference Page: {reference_page}")
        lines.append("Pages Checked: " + ", ".join(str(p) for p in pages_checked))
        lines.append("")
        if verified:
            lines.append("Status: VERIFIED - All headers match across pages")
        else:
            lines.append("Status: MISMATCH - 0 page(s) have different headers")
            lines.append("")
            lines.append("Mismatches:")
        lines.append("")
        lines.append(f"Headers ({len(reference_headers)} columns):")
        for i, header in enumerate(reference_headers, 1):
            lines.append(f"  {i}. {header}")
    else:
        lines.append("Status: NO TABLE PAGES FOUND")
        lines.append("")
        lines.append("No table pages were identified in the document.")
    return "\n".join(lines).encode("utf-8")


def _typed_cell(value: str):
    """Reconstruct the reference's union-typed cell (float | str | None)
    from the canonical string cell (reference :714-731 parse semantics)."""
    if value == "":
        return None
    if value in _STR_OK or value.startswith("<"):
        return value
    try:
        return float(value.replace(",", ""))
    except ValueError:
        return value


def sample_to_dict(cells: dict[str, str], page_number: int) -> dict:
    """CoreSample.to_dict twin (reference :70-84): union-typed values."""
    return {
        "core_number": cells["core_number"],
        "sample_number": cells["sample_number"],
        "depth_feet": _typed_cell(cells["depth_feet"]),
        "permeability_air_md": _typed_cell(cells["permeability_air_md"]),
        "permeability_klink_md": _typed_cell(cells["permeability_klink_md"]),
        "porosity_ambient_pct": _typed_cell(cells["porosity_ambient_pct"]),
        "porosity_ncs_pct": _typed_cell(cells["porosity_ncs_pct"]),
        "grain_density_gcc": _typed_cell(cells["grain_density_gcc"]),
        "saturation_water_pct": _typed_cell(cells["saturation_water_pct"]),
        "saturation_oil_pct": _typed_cell(cells["saturation_oil_pct"]),
        "saturation_total_pct": _typed_cell(cells["saturation_total_pct"]),
        "page_number": page_number,
    }


def bundle_json_bytes(
    pages: list[tuple[int, str]],
    table_pages: list[int],
    samples: list[dict],
    warnings: list[str],
) -> bytes:
    """K3 (reference :945-970): legacy bundled JSON."""
    data = {
        "classification": {f"page_{p}": t for p, t in sorted(pages)},
        "table_pages": sorted(table_pages),
        "sample_count": len(samples),
        "samples": samples,
        "warnings": warnings,
    }
    return json.dumps(data, indent=2).encode("utf-8")


def write_media_files(media, out_dir) -> int:
    """K6 media file sink (reference elementizer/extractor.py:176-184):
    one binary file per media row, named by its ``media_ref`` (the
    reference's ``page%04d_img%04d.<ext>`` pattern — X13), null/empty
    payloads skipped like the reference's ``if image_data`` gate.

    Executor-side ``foreachPartition`` writes — each task streams its
    partition's payloads straight to storage (shared FS here; object-
    store puts on a cluster), so payload bytes never collect to the
    driver.  Returns the number of files written (computed as a count
    on the same filtered frame, not by mutating driver state)."""
    import os
    from pathlib import Path

    from pyspark.sql import functions as F

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    target = str(out)

    writable = media.select("media_ref", "payload").filter(
        F.col("payload").isNotNull() & (F.length("payload") > 0))

    def write_part(rows) -> None:
        for r in rows:
            # basename() guards media_ref path traversal into other dirs
            name = os.path.basename(r["media_ref"])
            with open(os.path.join(target, name), "wb") as f:
                f.write(bytes(r["payload"]))

    writable.foreachPartition(write_part)
    return writable.count()
