"""Multi-column reading order: 1-D projection column detection.

North-star parity: "batched PDF layout analysis (text-block
segmentation, reading-order sort, table/field region detection via
bounding-box clustering)".  The golden extraction path already sorts
spans in reading order for the reference's single-column documents
(reference ``core_analysis.py`` orders blocks by page/top); this
module adds the MULTI-COLUMN case — the classic recursive-XY-cut
projection step, restricted to one vertical cut level, expressed as
pure window functions so the DuckDB oracle can replay it exactly.

Algorithm (`column_reading_order`): per document, sweep the word
boxes in ``x0`` order carrying the running max of ``x1``; a box whose
``x0`` clears that running max by at least ``min_gap`` starts a new
column (a full-height vertical whitespace valley in the 1-D
x-projection — exactly the cut XY-cut would take).  Column ids are
the running count of those cut flags; reading order is then
``(column, y0, x0)``.  Two windows, both keyed by ``doc_id`` → ONE
exchange total, two in-partition sorts.

100 TB shape: everything is keyed by ``doc_id``; per-partition state
is one running max per document.  Skew follows document size and is
bounded by the extraction path's ``skew.salted_repartition`` defusal.
Page-sized groups are tiny relative to partitions, so no window ever
funnels the corpus into one task (the partition spec is always
present — the `chunking` plan-pin rule).

`synth_boxes` deterministically lifts the flat ``documents`` corpus
into word boxes laid out in one or two newspaper columns (hash-chosen
per doc), so the operator's recovery of the original token order is
checkable end-to-end against a computational SQL twin with no golden
artifact in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T

#: synth layout constants (shared with the SQL twins in
#: ``__spark_entry__.py``): words per line, column x-pitch, box
#: geometry — integers so the oracle replays them exactly
TOKENS_PER_LINE = 4
WORD_PITCH_X = 100
WORD_WIDTH = 80
LINE_PITCH_Y = 50
LINE_HEIGHT = 40
COLUMN_PITCH_X = 500


def synth_boxes(docs: DataFrame) -> DataFrame:
    """``(doc_id, box_id, x0, x1, y0, y1)`` — deterministic word-box
    layout of a flat text corpus; ``box_id`` is the 0-based token
    index, i.e. the ground-truth reading order.

    Rule (exactly replayable in SQL): whitespace tokens flow into
    lines of :data:`TOKENS_PER_LINE` words; documents whose
    ``hash32('col:' || doc_id)`` is even set the lines in TWO
    newspaper columns (first ``ceil(n_lines / 2)`` lines in column 0,
    the rest in column 1 at ``x += COLUMN_PITCH_X``), the rest in a
    single column.  Token ``i``::

        line   = i // 4            col_w = i % 4
        col    = line // lpc       row   = line % lpc   (two-col docs)
        x0 = col * 500 + col_w * 100      x1 = x0 + 80
        y0 = row * 50                     y1 = y0 + 40

    Pure narrow plan: one token explode per document, no shuffle.
    """
    hv = H.hash32(F.concat(F.lit("col:"), F.col("doc_id").cast("string")))
    # token array hoisted into ONE column layer (referenced twice:
    # size + explode — CollapseProject keeps the layer, so tokenize
    # runs once); posexplode_outer + generated-column filter, never
    # plain explode over a nullable computed array (the inferred
    # pre-Generate filter would re-evaluate the tokenize per row)
    lay = docs.select(F.col("doc_id"), (hv % 2 == 0).alias("_two"),
                      T.tokens(F.col("text")).alias("_toks"))
    tok = (lay.select(F.col("doc_id"), F.col("_two"),
                      F.size("_toks").alias("_n"),
                      F.posexplode_outer("_toks").alias("box_id", "_w"))
           .filter(F.col("_w").isNotNull()))
    line = F.floor(F.col("box_id") / TOKENS_PER_LINE)
    n_lines = F.ceil(F.col("_n") / F.lit(TOKENS_PER_LINE))
    lpc = F.when(F.col("_two"), F.ceil(n_lines / F.lit(2))) \
           .otherwise(n_lines)
    col = F.floor(line / lpc)
    row = line % lpc
    x0 = (col * COLUMN_PITCH_X
          + (F.col("box_id") % TOKENS_PER_LINE) * WORD_PITCH_X).cast("int")
    y0 = (row * LINE_PITCH_Y).cast("int")
    return tok.select(
        F.col("doc_id"), F.col("box_id").cast("int").alias("box_id"),
        x0.alias("x0"), (x0 + WORD_WIDTH).cast("int").alias("x1"),
        y0.alias("y0"), (y0 + LINE_HEIGHT).cast("int").alias("y1"))


def column_reading_order(boxes: DataFrame, min_gap: int = 50) -> DataFrame:
    """``(doc_id, box_id, col_id, read_rank)`` — recover reading order
    from word-box geometry via 1-D x-projection column detection.

    A box starts a new column when its ``x0`` clears the running max
    ``x1`` of all boxes to its left by ``min_gap`` (a full-height
    vertical whitespace valley); ``col_id`` is 1-based left-to-right,
    ``read_rank`` is 1-based over ``(col_id, y0, x0)`` — newspaper
    order.  Ties break by ``box_id`` so the output is a pure function
    of the box set.

    DuckDB twin: same two window functions (running ``max(x1)`` over
    the 1-preceding frame, running ``SUM`` of cut flags, then
    ``ROW_NUMBER``) — see the ``layout_reading_order`` oracle.
    """
    if min_gap < 1:
        raise ValueError(f"min_gap must be >= 1; got {min_gap}")
    sweep = Window.partitionBy("doc_id").orderBy("x0", "y0", "box_id")
    prev_max = F.max("x1").over(
        sweep.rowsBetween(Window.unboundedPreceding, -1))
    cut = (prev_max.isNull()
           | (F.col("x0") >= prev_max + F.lit(min_gap))).cast("int")
    col_id = F.sum(cut).over(
        sweep.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = boxes.select(F.col("doc_id"), F.col("box_id"),
                           F.col("x0"), F.col("y0"),
                           col_id.cast("int").alias("col_id"))
    order = Window.partitionBy("doc_id").orderBy(
        "col_id", "y0", "x0", "box_id")
    return flagged.select(
        F.col("doc_id"), F.col("box_id"), F.col("col_id"),
        F.row_number().over(order).cast("int").alias("read_rank"))


def reading_order_report(boxes: DataFrame) -> DataFrame:
    """``(doc_id, n_boxes, n_cols, n_in_order)`` — per-document audit
    of :func:`column_reading_order` against the ``box_id`` ground
    truth (``n_in_order`` counts boxes whose recovered ``read_rank``
    is exactly ``box_id + 1``; a fully-recovered document has
    ``n_in_order == n_boxes``).  One row per doc — the compact
    whole-corpus form of the recovery check; the groupBy reuses the
    windows' ``doc_id`` hash partitioning, so the report costs no
    extra exchange."""
    ranked = column_reading_order(boxes)
    return (ranked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_boxes"),
                 F.max("col_id").cast("int").alias("n_cols"),
                 F.sum((F.col("read_rank") == F.col("box_id") + 1)
                       .cast("int")).cast("int").alias("n_in_order")))
