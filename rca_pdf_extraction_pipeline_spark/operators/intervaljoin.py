"""Bucketized interval (range) join — match point rows to the
intervals that contain them without an inequality join.

Spark plans a bare ``l.ts BETWEEN r.lo AND r.hi`` predicate as
BroadcastNestedLoopJoin (or a cartesian when neither side fits in a
broadcast): every left row is tested against every right row per key.
The standard scale formulation (Databricks' range-join optimization,
Flink/KDB temporal joins) buckets the time domain instead:

  1. pick a bucket width W;
  2. each interval explodes to the buckets it covers
     (``floor(lo/W) .. floor(hi/W)`` — bounded by len/W + 1 rows);
  3. each point row computes its single bucket ``floor(ts/W)``;
  4. equi-join on (key, bucket) + residual ``ts BETWEEN lo AND hi``.

A (point, interval) pair meets in EXACTLY one bucket — the point's —
so the equi-join emits no duplicates and needs no post-dedup.  Cost is
one hash-partitioned exchange per side, join fan-in per bucket bounded
by the number of intervals overlapping that window.  Pick W near the
typical interval length: W too small multiplies the interval-side rows
(len/W copies), W too large degrades toward per-key nested loops
(every interval lands in every bucket's bucket).

Reference parity: the reference pipeline has no temporal join; this is
part of the events-table analytics family (sessions, as-of) the
training-data pipeline needs at 100 TB.

Timestamps are NTZ (parquet ``timestamp``); bucketing derives integer
seconds via ``timestampdiff`` from a fixed NTZ epoch so the arithmetic
never touches session-timezone conversion (CLAUDE.md invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed NTZ epoch for second-offset arithmetic — matches the DuckDB
#: oracles' ``datediff('second', TIMESTAMP '2024-01-01', ts)`` twin
EPOCH = "2024-01-01 00:00:00"


def _bucket(ts_col: str, width_s: int) -> F.Column:
    secs = F.expr(f"timestampdiff(SECOND, TIMESTAMP '{EPOCH}', {ts_col})")
    return F.floor(secs / F.lit(width_s))


def point_in_interval_join(points: DataFrame, intervals: DataFrame, on: str,
                           lo_col: str = "lo",
                           bucket_seconds: int = 3600) -> DataFrame:
    """Inner join: point rows paired with every interval (same ``on``
    key) satisfying ``lo <= ts <= hi``.  Output carries all point
    columns plus all interval columns except the key; callers alias
    collisions away beforehand.

    The join is a plain equi-join on (key, bucket) — broadcastable by
    AQE when the interval side is small, shuffled hash join otherwise;
    never a nested loop.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    overlap = [c for c in intervals.columns if c in points.columns and c != on]
    if overlap:
        raise ValueError(
            f"column collision between sides: {overlap}; alias before joining")
    # project bucket bounds once, then explode the covered-bucket range.
    # sequence() over nullable inputs yields a nullable array: explode()
    # would trigger the inferred pre-Generate filter that re-evaluates
    # the synthesis per referenced column (CLAUDE.md r5 trap), so use
    # explode_outer + an explicit null filter instead.
    iv = intervals.select(
        "*",
        _bucket(lo_col, bucket_seconds).alias("_b_lo"),
        _bucket("hi", bucket_seconds).alias("_b_hi"),
    )
    iv = (iv.select("*", F.explode_outer(
            F.sequence(F.col("_b_lo"), F.col("_b_hi"))).alias("_b"))
            .filter(F.col("_b").isNotNull())
            .drop("_b_lo", "_b_hi"))
    pt = points.withColumn("_b", _bucket("ts", bucket_seconds))
    joined = pt.join(iv, [on, "_b"], "inner").drop("_b")
    return joined.filter(
        (F.col("ts") >= F.col(lo_col)) & (F.col("ts") <= F.col("hi")))
