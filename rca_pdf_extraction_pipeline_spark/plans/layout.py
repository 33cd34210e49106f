"""Z-order (Morton) data layout — multi-dimensional clustering so file
min/max statistics prune scans on ANY of the layout dimensions.

Bucketing (:mod:`plans.bucketing`) prepays the shuffle for ONE join
key; it does nothing for range predicates, and sorting files by one
column only prunes that column.  The production tool for "point/range
queries on several columns over the same 100 TB table" is Z-ordering
(Delta ``OPTIMIZE ZORDER BY``, Iceberg's sort-order zorder): interleave
the bits of the clustering columns into one Morton key, range-partition
and sort the table by that key, and every written file becomes an
axis-aligned rectangle in layout space — its parquet footer min/max on
EACH dimension is narrow, so a predicate on any dimension skips most
files at planning time.  Locality math: with d dims at b bits, two rows
agreeing on the top k bits of every dim share the top d*k Morton bits,
so each of the 2^(d*k) buckets spans at most 2^(b-k) distinct values
per dimension — files are small rectangles, never full-width stripes
(the failure mode of single-column sort for every OTHER column).

Everything here is narrow column arithmetic (unrolled shift/mask,
whole-stage codegen, zero Python) plus the ONE range exchange any
layout rewrite must pay; at 10^12 rows the rewrite is a single
linear-cost pass, exactly like the bucketing prepay.

No reference counterpart (single-process SQLite pipeline); this is the
lakehouse-side completion of SURVEY §7's partitioning story.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton key: interleave the low ``bits`` bits of each column.

    Bit j of dimension i lands at position ``j * d + i`` (LSB-first
    round-robin), the classic Z-curve.  Inputs must already be
    non-negative integer ranks/codes in ``[0, 2**bits)`` — out-of-range
    values would silently collide, so each input is range-checked into
    a NULL key (loud under ANSI tests, visibly wrong in any oracle)
    rather than masked.  Unrolled to ``d * bits`` shift/and/or terms:
    stays inside whole-stage codegen, no UDF, no shuffle.
    """
    if not 1 <= bits <= 20:
        raise ValueError(f"bits must be in [1, 20], got {bits}")
    d = len(cols)
    if d < 2:
        raise ValueError("zorder_key needs >= 2 columns (1-d Z-order "
                         "is just a sort — use sortWithinPartitions)")
    if d * bits > 62:
        raise ValueError(f"{d} dims x {bits} bits = {d * bits} key bits "
                         "> 62 (long overflow)")
    limit = 1 << bits
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        col = F.when((col >= 0) & (col < limit), col.cast("long"))
        for j in range(bits):
            bit = F.shiftright(col, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * d + i))
    return key


def zorder_layout(df: DataFrame, cols: list[str], bits: int = 16,
                  num_files: int | None = None) -> DataFrame:
    """Rewrite ``df`` into Z-order layout: one range exchange on the
    Morton key of ``cols`` plus an in-partition sort, so a follow-up
    ``write.parquet`` emits one rectangle-shaped file per partition
    (partition boundaries are Z-key ranges; footer min/max per layout
    column is narrow on every dimension).

    ``cols`` must already be integer codes in ``[0, 2**bits)`` — for
    raw value columns derive codes first (e.g. ``F.ntile`` ranks or
    ``(col % 2**bits)``), mirroring how Delta zorders on range-partition
    ids rather than raw values.  The key column is kept (``_zkey``)
    so callers and tests can audit bucket membership; drop it at write
    time if unwanted.
    """
    spark = df.sparkSession
    if num_files is None:
        num_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = df.withColumn("_zkey", zorder_key(cols, bits=bits))
    return (keyed.repartitionByRange(num_files, F.col("_zkey"))
            .sortWithinPartitions("_zkey"))


def layout_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-output-file (= per-partition) min/max/count of the layout
    columns — the exact numbers a parquet footer would carry, computed
    without writing.  This is the pruning audit: for a predicate
    ``col = v`` the planner reads only files with ``min <= v <= max``,
    so narrow per-file spans == files skipped.  One narrow projection
    (``spark_partition_id``) + one partial-agg shuffle over ~num_files
    rows.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (df.withColumn("_file", F.spark_partition_id())
            .groupBy("_file").agg(*aggs))


def pruned_fraction(stats: DataFrame, col: str, value) -> float:
    """Fraction of files a point predicate ``col = value`` skips, given
    a :func:`layout_stats` frame.  Driver-side scalar over ~num_files
    rows (an audit artifact, not a data-path op)."""
    rows = stats.select(
        F.count(F.lit(1)).alias("total"),
        F.sum(((F.col(f"{col}_min") <= value)
               & (F.col(f"{col}_max") >= value)).cast("int")).alias("hit"),
    ).collect()[0]
    return 1.0 - rows["hit"] / rows["total"]
