"""S9 table-grid extraction + F8 page-range guard as Spark operators.

Reference parity:
  * ``src/table_extractor.py:59-120`` — per-page table detection
    (``find_tables`` lines strategy; ``extract_tables`` fallback at
    confidence 0.7), first row = headers, all-empty data rows dropped.
  * ``src/table_extractor.py:37-40`` — F8: requested pages outside the
    document's page range produce a ``"Page N out of range, skipping"``
    warning and are skipped.

Spark shape: the grid inference runs inside the same single narrow
``mapInArrow`` stage as the rest of the extraction family (documents are
self-contained; no shuffle).  The kernel (kernels/tablegrid.py) is pure
numpy — no per-row Python.  The F8 guard is a pure DataFrame expression
(spans are never exploded; the per-doc page count is an ``array_max`` over
the nested column), so Catalyst keeps it whole-stage-codegen'd and the
warning channel is just another DataFrame a caller can sink or union.

Scale notes: grid pages are a small fraction of a corpus; the dense-cell
frame is bounded by (rows x cols) per detected grid, orders of magnitude
smaller than the span input.  Output is cell-granular (one row per cell),
so downstream consolidation (P3) groups by doc_id with tiny groups.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import tablegrid as ktg
from .extraction import map_flat_batches

CELLS_SCHEMA = ("doc_id string, page int, table_index int, row_idx int, "
                "col_idx int, cell string, is_header boolean, "
                "confidence double")

TABLES_SCHEMA = ("doc_id string, table_id int, headers array<string>, "
                 "rows array<array<string>>")


def extract_table_cells(docs: DataFrame,
                        page_numbers: list[int] | None = None,
                        text_fallback: bool = True) -> DataFrame:
    """docs(doc_id, spans) -> one row per inferred table cell.

    Output: (doc_id, page, table_index, row_idx, col_idx, cell, is_header,
    confidence); row_idx 0 is the header row, data rows compact to 1..K
    after the all-empty-row drop.  ``page_numbers`` restricts processing to
    those pages (F8 semantics — out-of-range pages are simply absent here;
    the warning channel is :func:`page_range_warnings`).
    """
    pages = sorted(set(page_numbers)) if page_numbers else None

    def cells(flat: pd.DataFrame) -> pd.DataFrame:
        if pages is not None:
            flat = flat[flat["page"].isin(pages)]
        out = ktg.infer_grid_tables(flat)
        if not text_fallback and len(out):
            out = out[out["confidence"] >= 1.0]
        return out.assign(cell=out["cell"].astype(str),
                          is_header=out["is_header"].astype(bool))

    return map_flat_batches(docs, CELLS_SCHEMA, cells)


def extract_tables_nested(docs: DataFrame) -> DataFrame:
    """Cell rows regrouped to the P3 consolidation input shape
    (doc_id, table_id, headers:array<string>, rows:array<array<string>>)."""
    return tables_nested_from_cells(extract_table_cells(docs))


def tables_nested_from_cells(cells: DataFrame) -> DataFrame:
    """(doc_id, page, table_index, row_idx, col_idx, cell, is_header)
    -> (doc_id, table_id, headers, rows).

    Pure DataFrame composition: two ordered collect_lists under groupBy —
    the only shuffle is on (doc_id, page, table_index), whose cardinality
    is the table count, not the cell count.
    """
    rows = (cells.groupBy("doc_id", "page", "table_index", "row_idx",
                          "is_header")
            .agg(F.array_sort(F.collect_list(F.struct("col_idx", "cell")))
                 .alias("kv"))
            .withColumn("cells", F.transform("kv", lambda s: s["cell"]))
            .drop("kv"))
    hdr = (rows.filter("is_header")
           .select("doc_id", "page", "table_index",
                   F.col("cells").alias("headers")))
    data = (rows.filter("NOT is_header")
            .groupBy("doc_id", "page", "table_index")
            .agg(F.array_sort(F.collect_list(F.struct("row_idx", "cells")))
                 .alias("rk"))
            .withColumn("rows", F.transform("rk", lambda s: s["cells"]))
            .drop("rk"))
    joined = hdr.join(data, ["doc_id", "page", "table_index"])
    # table_id: global per-doc order by (page, table_index)
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("page", "table_index")
    return (joined.withColumn("table_id",
                              (F.row_number().over(w) - 1).cast("int"))
            .select("doc_id", "table_id", "headers", "rows"))


def page_range_warnings(docs: DataFrame,
                        page_numbers: list[int]) -> DataFrame:
    """F8 warning channel (reference ``table_extractor.py:38-40``): one row
    per (doc, requested page) outside [1, n_pages], with the reference's
    exact message text.  ``n_pages`` is the max span page per document —
    an ``array_max`` over the nested column, no explode, no shuffle."""
    # try_cast: payloads without a numeric page head (malformed docs)
    # must yield null, not an ANSI cast error
    page_of = F.transform(
        "spans",
        lambda s: F.split(F.split(s["text"], r"\|")[0], ",")[0]
                   .try_cast("int"))
    n_pages = F.array_max(page_of)
    req = F.array(*[F.lit(int(p)) for p in sorted(set(page_numbers))])
    return (docs.select("doc_id", n_pages.alias("n_pages"),
                        F.explode(req).alias("page"))
            .filter((F.col("page") < 1) | (F.col("page") > F.col("n_pages")))
            .select("doc_id", "page",
                    F.concat(F.lit("Page "), F.col("page").cast("string"),
                             F.lit(" out of range, skipping")).alias("warning")))
