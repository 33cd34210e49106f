"""As-of (point-in-time) join — for each left row, the single most
recent right row with ``right.ts <= left.ts`` within the same key.

Spark has no ASOF JOIN operator (DuckDB/kdb/Pandas do); the naive
emulation is an inequality join + argmax, which explodes to O(|L|x|R|)
per key.  This is the standard shuffle-once formulation instead:

  1. tag right rows side=0, left rows side=1, union
  2. ONE window per key ordered by (ts, side): running
     ``last(right_payload, ignorenulls)`` carries the latest right row
     forward in time
  3. keep left rows; the carried struct IS the as-of match

Cost: one exchange on the key + one sort — identical to a regular
window aggregation, independent of how many right rows precede each
left row.  Ordering by (ts, side) makes a right row at exactly
``left.ts`` visible to that left row (the standard ASOF ``<=`` bound).

Scale notes: the union is columnar and narrow; skewed keys behave like
any window over the same key (salt upstream if one key dominates).
The right payload travels as ONE struct column, so the carry state per
row is a pointer, not a copy per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str,
              right_cols: list[str] | None = None,
              prefix: str = "matched_") -> DataFrame:
    """Left rows + the latest preceding right row's columns (nulls when
    no right row precedes); both sides carry their time in ``ts``.
    ``right_cols`` defaults to every right column except the key and
    ``ts``; matched columns are renamed ``<prefix><col>`` and the match
    timestamp ``<prefix>ts``.

    Requires (on, ts) to be unique on the right side — the
    standard ASOF precondition (otherwise "the" latest row is
    ambiguous); violations surface as nondeterminism, so dedupe first.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, "ts")]
    payload = F.struct(F.col("ts"), *[F.col(c) for c in right_cols])
    r = right.select(F.col(on), F.col("ts").alias("_ts"),
                     F.lit(0).alias("_side"), payload.alias("_r"))
    l = left.select(F.col(on), F.col("ts").alias("_ts"),
                    F.lit(1).alias("_side"),
                    F.struct(*[F.col(c) for c in left.columns
                               if c != on]).alias("_l"))
    u = r.unionByName(l.withColumn("_r", F.lit(None).cast(r.schema["_r"].dataType)),
                      allowMissingColumns=True)
    w = (Window.partitionBy(on).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1)
    cols = [F.col(on)]
    cols += [F.col("_l")[c].alias(c) for c in left.columns if c != on]
    cols.append(F.col("_m")["ts"].alias(f"{prefix}ts"))
    cols += [F.col("_m")[c].alias(f"{prefix}{c}") for c in right_cols]
    return out.select(*cols)
