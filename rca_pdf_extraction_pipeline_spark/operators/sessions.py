"""Gap-based sessionization — the inactivity-window operator behind
clickstream / interaction-log training data (user "sessions" close
after ``gap_minutes`` without an event).

Built on Spark's native ``session_window`` (dynamic-gap windows merged
by the aggregation itself), so batch and Structured Streaming share one
code path: the same expression works under ``readStream`` +
``withWatermark`` with state evicted once the watermark passes a
session's close.

Scale: ONE hash exchange on the user key; partial session merging
happens map-side, and AQE coalesces the post-shuffle partitions.  This
replaces the self-join / global-sort formulations that need either an
O(N log N) sort per key or a window function over the full event
stream.  Complements the boundary-event sessionization of
``w2_cumsum_sessions`` (event-driven split vs time-gap split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30,
               watermark: str = "10 minutes") -> DataFrame:
    """(user, session_start, session_end, n_events, total_value):
    events within ``gap_minutes`` of the previous event chain into one
    session (boundary INCLUSIVE: an event exactly gap after the last
    still chains — pinned by test); ``session_end`` is Spark's
    convention — last event + gap (the instant the session closed).

    Works on batch AND streaming frames: on a stream the watermark
    finalizes (and evicts) a session once event time passes its close,
    so the batch output is the exact completion of the stream's
    (pinned by test_streaming).  ``total_value`` is summed in
    micro-units (integer) and scaled back, so cross-row float addition
    order can't change the result."""
    if gap_minutes <= 0:
        raise ValueError(f"gap_minutes must be positive, got {gap_minutes}")
    # watermarking requires TIMESTAMP (ltz); gap arithmetic is wall-time
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    win = F.session_window(F.col("ts"), f"{gap_minutes} minutes")
    micro = F.round(F.col("value") * 1_000_000).cast("long")
    return (src
            .groupBy(F.col("user_id"), win.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(micro).cast("double") / 1_000_000)
                 .alias("total_value"))
            .select(F.col("user_id"),
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events",
                    F.round(F.col("total_value"), 2).alias("total_value")))


#: fixed NTZ epoch for period arithmetic — both engines count whole
#: days from the same midnight, so period ids are engine-exact ints
PERIOD_EPOCH = "2024-01-01 00:00:00"


def _period(period_days: int) -> "F.Column":
    return F.floor(
        F.expr(f"timestampdiff(DAY, timestamp'{PERIOD_EPOCH}', ts)")
        / period_days).cast("long")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by the 7-day period
    of their FIRST event; for each (cohort, offset) cell, how many of
    them were active ``offset`` periods later.

    Returns (cohort_period, period_offset, n_active, cohort_size,
    retention) ordered by cohort then offset; offset 0 rows have
    retention 1.0 by construction.  Period ids are whole-day counts
    from a fixed NTZ epoch (engine-exact integers), retention a single
    rounded division.

    Scale: ONE distinct over (user, period) — map-side combined, the
    only corpus-proportional shuffle; first-period and activity both
    group on user (shared exchange), cohort sizes broadcast back.  No
    window over users, no per-user state."""
    uw = (events.select(F.col("user_id").alias("u"), _period(7).alias("w"))
          .distinct())
    firsts = uw.groupBy("u").agg(F.min("w").alias("cw"))
    sizes = firsts.groupBy("cw").agg(
        F.countDistinct("u").alias("cohort_size"))
    ret = (uw.join(firsts, "u")
           .groupBy(F.col("cw").alias("cohort_period"),
                    (F.col("w") - F.col("cw")).alias("period_offset"))
           .agg(F.countDistinct("u").alias("n_active")))
    return (ret.join(F.broadcast(sizes),
                     ret["cohort_period"] == sizes["cw"])
            .drop("cw")
            .withColumn("retention",
                        F.round(F.col("n_active") / F.col("cohort_size"), 6))
            .orderBy("cohort_period", "period_offset"))


def active_users(events: DataFrame) -> DataFrame:
    """Per-day DAU and trailing-7-day WAU: (day, dau, wau).

    WAU(d) = distinct users active in [d - 6, d] — computed by
    joining the per-(user, day) distinct table to the day grid on a
    range predicate, then counting distinct per day: the windowed
    distinct no engine's rolling window does natively.

    Scale: the (user, day) distinct table is the corpus-proportional
    piece; the grid join fans each row out 7 times (a
    constant), and the day grid itself is tiny (one row per day)."""
    ud = (events.select(F.col("user_id").alias("u"), _period(1).alias("d"))
          .distinct())
    days = ud.select(F.col("d").alias("day")).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("u").alias("dau"))
    wau = (days.join(ud, (F.col("d") <= F.col("day"))
                     & (F.col("d") > F.col("day") - 7))
           .groupBy("day").agg(F.countDistinct("u").alias("wau")))
    return dau.join(wau, "day").orderBy("day")
