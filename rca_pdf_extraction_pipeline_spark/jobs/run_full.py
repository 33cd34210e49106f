"""Legacy full-pipeline composition (reference ``src/main.py:237-283``:
``python -m src.main full <pdf>`` = analyze -> classify -> extract ->
consolidate -> save CSV/JSON), re-expressed as one Spark job over the
interleaved docs table.

Reference lifecycle -> Spark mapping:
  1. analyze      — doc profile from the span model (page count, span
                    kind census) + S5 metadata pivot.
  2. classify     — C2 STRUCTURAL classification (the legacy path's
                    classifier, page_classifier.py), not the C1 keyword
                    cascade the deliverable path uses.
  3. extract      — S9 table-grid inference restricted to the pages
                    classified ``table`` (the reference passes
                    ``table_pages`` into ``extract_tables``); a join on
                    (doc_id, page) replaces the per-PDF page list.
  4. consolidate  — P3 header-similarity consolidation per document.
  5. save         — per-doc CSV (K1 writer, BOM + sanitization) and a
                    summary JSON, written from the tiny consolidated
                    results; the heavy span data never leaves executors.

Everything before step 5 is lazily-composed DataFrames — callers can
stop at any stage; the CLI materializes only the per-doc summaries.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_classified_tables(docs: DataFrame,
                              classifications: DataFrame) -> DataFrame:
    """S9 cells restricted to structurally-classified table pages —
    the Spark form of ``extract_tables(page_numbers=table_pages)``."""
    from ..operators.tablegrid import extract_table_cells

    table_pages = (classifications.filter(F.col("page_type") == "table")
                   .select("doc_id", "page"))
    cells = extract_table_cells(docs)
    return cells.join(table_pages, ["doc_id", "page"], "left_semi")


def consolidate_cells(cells: DataFrame) -> DataFrame:
    """Cell rows -> one consolidated table per doc (P3)."""
    from ..operators.consolidate import consolidate_documents
    from ..operators.tablegrid import tables_nested_from_cells

    return consolidate_documents(tables_nested_from_cells(cells))


def doc_anomalies(docs: DataFrame) -> DataFrame:
    """Per-doc anomaly channel (reference ``pdf_dissector.py:63-71``:
    a failed page appends ``"Page N: <err>"`` to ``structure.anomalies``
    instead of vanishing, and the strings ride into the JSON bundle at
    ``:221``).  Malformed spans are detected with pure column predicates
    — no Python, no exceptions — and formatted into the reference's
    message shape; clean docs get an empty array, so the channel is
    always present.

    Returns (doc_id, anomalies: array<string>) for EVERY input doc,
    warnings ordered by span offset."""
    s = docs.select("doc_id", F.explode_outer("spans").alias("s"))
    parts = F.split(F.col("s.text"), r"\|", 2)
    head = F.get(parts, 0)
    content = F.get(parts, 1)
    geo = F.split(head, ",")
    page = F.get(geo, 0).try_cast("bigint")
    off = F.coalesce(F.col("s.offset"), F.lit(-1)).cast("string")
    bad_geom = (F.size(geo) >= 5) & (
        F.get(geo, 1).try_cast("double").isNull()
        | F.get(geo, 2).try_cast("double").isNull()
        | F.get(geo, 3).try_cast("double").isNull()
        | F.get(geo, 4).try_cast("double").isNull())
    msg = (
        F.when(F.col("s").isNull(), F.lit("Document has no spans"))
        .when(F.col("s.kind").isNull(),
              F.concat(F.lit("Span "), off, F.lit(": null kind")))
        .when(content.isNull(),
              F.concat(F.lit("Span "), off,
                       F.lit(": payload missing separator")))
        .when(page.isNull(),
              F.concat(F.lit("Span "), off, F.lit(": unparseable page")))
        .when(bad_geom,
              F.concat(F.lit("Page "), page.cast("string"),
                       F.lit(": unparseable geometry")))
    )
    keyed = F.struct(F.coalesce(F.col("s.offset"), F.lit(-1)).alias("o"),
                     msg.alias("m"))
    return (s.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.when(msg.isNotNull(), keyed)))
                 .alias("k"))
            .select("doc_id",
                    F.transform("k", lambda x: x["m"]).alias("anomalies")))


def full_pipeline(docs: DataFrame) -> dict[str, DataFrame]:
    """Compose the whole legacy lifecycle; returns the stage frames:
    {"classifications", "cells", "consolidated", "summaries",
    "anomalies"}."""
    from ..operators.extraction import classify_documents_structural

    cls = classify_documents_structural(docs)
    cells = extract_classified_tables(docs, cls)
    consolidated = consolidate_cells(cells)

    by_type = (cls.groupBy("doc_id", "page_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .groupBy("doc_id")
               .agg(F.map_from_entries(
                   F.array_sort(F.collect_list(F.struct("page_type", "n"))))
                   .alias("pages_by_type"),
                   F.sum("n").alias("n_pages")))
    anomalies = doc_anomalies(docs)
    summaries = (by_type.join(
        consolidated.select(
            "doc_id", "n_tables", "n_rows",
            F.col("headers").alias("consolidated_headers")),
        "doc_id", "left")
        .join(anomalies, "doc_id", "left"))
    return {"classifications": cls, "cells": cells,
            "consolidated": consolidated, "summaries": summaries,
            "anomalies": anomalies}


def save_outputs(consolidated: DataFrame, out_dir: str) -> list[str]:
    """Reference step 3's artifact writes: per-doc ``<doc>_tables.csv``
    (K1 writer: BOM + sanitized headers) and ``<doc>_tables.json``.
    Consolidated tables are tiny per-doc summaries, so collecting them
    driver-side mirrors the reference exactly."""
    from pathlib import Path

    from ..kernels.sanitize import rows_to_csv_bytes

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    written = []
    for r in consolidated.collect():
        base = out / f"{r['doc_id']}_tables"
        csv_bytes = rows_to_csv_bytes(list(r["original_headers"]),
                                      [list(x) for x in r["rows"]])
        (base.with_suffix(".csv")).write_bytes(csv_bytes)
        payload = {
            "headers": list(r["headers"]),
            "original_headers": list(r["original_headers"]),
            "total_rows": int(r["n_rows"]),
            "total_tables": int(r["n_tables"]),
            "data": [list(x) for x in r["rows"]],
        }
        (base.with_suffix(".json")).write_text(
            json.dumps(payload, indent=2, ensure_ascii=False))
        written += [str(base.with_suffix(".csv")), str(base.with_suffix(".json"))]
    return written


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="legacy full pipeline (Spark)")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args(argv)

    from .run_extraction import validate_output_path
    validate_output_path(args.output)

    from ..session import get_spark
    spark = get_spark("rca-full-pipeline")
    docs = spark.read.parquet(args.input)
    stages = full_pipeline(docs)
    files = save_outputs(stages["consolidated"], args.output)
    print(json.dumps({
        "docs": stages["summaries"].count(),
        "artifacts": len(files),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
