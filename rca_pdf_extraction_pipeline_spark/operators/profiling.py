"""Corpus profiling — per-group distribution summaries (the dataset-
card / ingest-QA numbers a pipeline publishes with every corpus drop).

Exact discrete percentiles (``percentile_disc``: always an actual data
value, so cross-engine comparison is exact — no interpolation float
drift), plus count/min/max/mean.  One shuffle on the group key with
map-side partial aggregation; group cardinality (languages, sources)
is tiny, so the reduce side is trivial at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PERCENTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


def corpus_profile(docs: DataFrame) -> DataFrame:
    """(group, n_docs, min, p25..p99, max, mean) of ``n_chars`` per ``lang``
    at the ``DEFAULT_PERCENTILES``.

    Percentile columns are named ``p<percent>`` (p25, p50, ...); the
    discrete percentile is cast back to the value column's integer type
    (it is always an actual data value).
    """
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_val"),
    ]
    for p in DEFAULT_PERCENTILES:
        name = f"p{int(round(p * 100))}"
        aggs.append(
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").alias(name))
    aggs += [
        F.max("n_chars").alias("max_val"),
        F.round(F.avg("n_chars"), 6).alias("mean_val"),
    ]
    return docs.groupBy("lang").agg(*aggs).orderBy("lang")


def histogram_quantiles(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Bounded-memory per-group quantiles via a fixed integer histogram —
    the 100 TB form of :func:`corpus_profile`.

    ``percentile_disc`` (used by :func:`corpus_profile`) is exact but
    buffers every group value in one aggregation buffer — fine when
    groups are small, an executor OOM when one group holds a corpus
    slice.  This variant never holds more than ``n_buckets`` counters
    per group:

    1. one shuffle for per-group (min, max, count) — three longs;
    2. broadcast those stats back, bucket each value with exact integer
       arithmetic ``((v - mn) * n_buckets) div (mx - mn + 1)``, and
       hash-aggregate (group, bucket) counts — map-side combine does
       most of the reduction, reduce side is <= groups x n_buckets rows;
    3. a window cumsum over that tiny table picks, for each percentile
       p in 25, 50, 75, 90, 99, the first bucket whose cumulative count reaches
       ``ceil(n * p / 100)`` (the percentile_disc rank), and reports the
       bucket's LOWER BOUND in value space.

    The estimate errs by less than one bucket width
    ``(max - min + 1) / n_buckets`` — and the histogram itself is the
    dataset-card artifact.  All arithmetic is integer floor division, so
    every engine and every partitioning reproduces the rows bit-for-bit.

    The per-group stats table is ``.persist()``-pinned for the lifetime
    of the returned plan (a few longs per group; Spark's LRU evicts it
    under pressure) — see the inline note for why the barrier exists.
    The pin is never explicitly released (the plan is lazy; there is no
    safe unpersist point inside a builder), so callers invoking this in
    a long-lived session loop should ``spark.catalog.clearCache()``
    between sweeps; each entry is tiny (3 longs x n_groups), so LRU
    pressure is the only practical effect.

    Returns (group, n_docs, min_val, p<pct>_lo ..., max_val), one row
    per group, ordered by group; every column long.
    """
    # the stats table is referenced by TWO downstream branches (bucket
    # assignment and percentile ranks); without a barrier each branch
    # re-runs the aggregate — and re-scans the corpus — independently
    # (no cross-branch exchange reuse in the static plan).  It is a few
    # longs per group, so pin it: one corpus scan for stats, one for the
    # histogram, total two.
    stats = docs.groupBy("lang").agg(
        F.min(F.col("n_chars").cast("long")).alias("mn"),
        F.max(F.col("n_chars").cast("long")).alias("mx"),
        F.count(F.lit(1)).alias("n_docs")).persist()
    bucket = F.least(
        F.lit(n_buckets - 1).cast("long"),
        F.expr(f"((cast(n_chars as bigint) - mn) * {n_buckets})"
               f" div (mx - mn + 1)"))
    hist = (docs.join(F.broadcast(stats), "lang")
            .select(F.col("lang"), bucket.alias("bucket"))
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))
    from pyspark.sql import Window
    w = (Window.partitionBy("lang").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .join(F.broadcast(stats), "lang"))
    lo = F.expr(f"mn + (bucket * (mx - mn + 1)) div {n_buckets}")
    aggs = [F.min("n_docs").alias("n_docs"), F.min("mn").alias("min_val")]
    for pct in (25, 50, 75, 90, 99):
        rank = F.expr(f"(n_docs * {pct} + 99) div 100")
        aggs.append(F.min(F.when(F.col("cum") >= rank, lo))
                    .alias(f"p{pct}_lo"))
    aggs.append(F.min("mx").alias("max_val"))
    return cum.groupBy("lang").agg(*aggs).orderBy("lang")


def source_tfidf_terms(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Distinctive vocabulary per subcorpus: treat each ``source``
    value as one aggregate document and rank its terms by tf-idf
    (Sparck Jones 1972): ``tf * ln(n_groups / df_groups)`` — the
    per-source keyword summary a dataset card publishes, and the
    quickest way to spot a mislabeled or contaminated source.

    Returns (source, term, tf, df_groups, tfidf, rank) for the top
    ``top_k`` terms per group by (tfidf desc, term asc); terms shorter
    than 3 chars are dropped (stopword-ish tail).  Scores are
    rounded to 6 dp so any engine reproduces them exactly.

    Scale: explode -> hash-agg on (group, term) — map-side combine does
    most of the reduction — then a window over those aggregates, whose
    row count is bounded by groups x vocabulary, not corpus size; the
    group-count side is a one-row broadcast.
    """
    from pyspark.sql import Window

    from ..functions import text as T

    toks = T.tokens(F.col("text"))
    pairs = (docs.select("source", F.explode(toks).alias("term"))
             .filter(F.length("term") >= 3)
             .groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf")))
    n_groups = docs.select(F.countDistinct("source").alias("n_groups"))
    df_groups = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_groups"))
    scored = (pairs.join(df_groups, "term")
              .crossJoin(F.broadcast(n_groups))
              .select("source", "term", "tf", "df_groups",
                      F.round(F.col("tf")
                              * F.log(F.col("n_groups")
                                      / F.col("df_groups")), 6)
                      .alias("tfidf")))
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k))


def corpus_drift(old_docs: DataFrame, new_docs: DataFrame,
                 n_buckets: int = 512, top_k: int = 30) -> DataFrame:
    """Snapshot-to-snapshot token-distribution drift — the refresh-ops
    check a pipeline runs before swapping in a new corpus drop: which
    parts of the vocabulary moved, and by how much?

    Tokens are bucketed ``hash32(md5(tok)) % n_buckets`` (the DSIR
    hashed-vocab idiom — the comparison table is at most ``n_buckets``
    rows regardless of corpus size), counted per snapshot in ONE union
    pass, and scored per bucket:

    * ``log_ratio`` — Laplace-smoothed log probability ratio
      ``ln((n_new+1)/(N_new+B)) - ln((n_old+1)/(N_old+B))``, each log
      quantized to an integer (x1e6) before the subtraction (the
      unigram_logprob discipline: ordering and ties are exact integer
      math, no float drift between engines);
    * ``l1_term`` — |p_new - p_old|, this bucket's contribution to the
      total-variation distance between the two snapshots.

    Returns the ``top_k`` most-drifted buckets (|log_ratio| integer
    magnitude desc, bucket asc): (bucket, n_old, n_new, log_ratio,
    l1_term).

    Scale: one token pass over old ∪ new with map-side combine down to
    <= n_buckets rows, then tiny-table math (one broadcast totals row)
    and a TakeOrderedAndProject top-k — no corpus-size state anywhere.
    A 100 TB refresh pays exactly two scans' worth of tokenization and
    shuffles only bucket counts."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2; got {n_buckets}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1; got {top_k}")
    from ..functions import hashing as H
    from ..functions import text as T

    tagged = (old_docs.select(F.col("text").alias("_txt"))
              .withColumn("_new", F.lit(0))
              .unionByName(new_docs.select(F.col("text").alias("_txt"))
                           .withColumn("_new", F.lit(1))))
    buckets = (tagged.select(F.col("_new"),
                             F.explode(T.tokens(F.col("_txt"))).alias("tok"))
               .select(F.col("_new"),
                       (H.hash32(F.col("tok")) % n_buckets).alias("bucket"))
               .groupBy("bucket")
               .agg(F.sum(1 - F.col("_new")).alias("n_old"),
                    F.sum("_new").alias("n_new")))
    return _drift_scores(buckets, n_buckets, top_k)


def token_bucket_counts(docs: DataFrame, n_buckets: int = 512) -> DataFrame:
    """(bucket, n) — one snapshot's hashed-vocab counts: the <= n_buckets
    rows of state a drift monitor stores per corpus drop, and exactly
    the expression tree ``streaming.drift.drift_bucket_stream`` runs as
    a streaming aggregation (constant state, like the HLL registers)."""
    from ..functions import hashing as H
    from ..functions import text as T

    return (docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
            .select((H.hash32(F.col("tok")) % n_buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def drift_from_counts(old_counts: DataFrame, new_counts: DataFrame,
                      n_buckets: int = 512, top_k: int = 30) -> DataFrame:
    """The same drift report computed from two stored/streamed
    (bucket, n) count tables instead of raw corpora — the serving form:
    the old snapshot's counts are a persisted artifact, the new side
    arrives from :func:`token_bucket_counts` over the fresh drop or
    from the streaming monitor's state table.  Bit-identical to
    :func:`corpus_drift` over the same rows (parity pinned in
    test_streaming.py)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2; got {n_buckets}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1; got {top_k}")
    o = old_counts.select(F.col("bucket"), F.col("n").alias("_no"))
    nw = new_counts.select(F.col("bucket"), F.col("n").alias("_nn"))
    buckets = (o.join(nw, "bucket", "full_outer")
               .select(F.col("bucket"),
                       F.coalesce(F.col("_no"), F.lit(0)).alias("n_old"),
                       F.coalesce(F.col("_nn"), F.lit(0)).alias("n_new")))
    return _drift_scores(buckets, n_buckets, top_k)


def _drift_scores(buckets: DataFrame, n_buckets: int,
                  top_k: int) -> DataFrame:
    """Shared scoring tail: (bucket, n_old, n_new) -> ranked report."""
    tot = buckets.agg(F.sum("n_old").alias("tot_old"),
                      F.sum("n_new").alias("tot_new"))
    lq = lambda x: F.round(F.log(x) * F.lit(1_000_000.0), 0).cast("long")
    scored = (buckets.crossJoin(F.broadcast(tot))
              .withColumn("_lr", lq((F.col("n_new") + 1)
                                    / (F.col("tot_new") + F.lit(n_buckets)))
                          - lq((F.col("n_old") + 1)
                               / (F.col("tot_old") + F.lit(n_buckets)))))
    return (scored.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        F.round(F.col("_lr") / F.lit(1_000_000.0), 6).alias("log_ratio"),
        # an EMPTY snapshot (no tokens on one side) has p = 0 for every
        # bucket, not a divide-by-zero: greatest(tot, 1) keeps the
        # division safe under ANSI mode while leaving non-empty totals
        # untouched (n is 0 whenever tot is 0)
        F.round(F.abs(F.col("n_new") / F.greatest("tot_new", F.lit(1))
                      - F.col("n_old") / F.greatest("tot_old", F.lit(1))),
                6).alias("l1_term"),
        F.abs(F.col("_lr")).alias("_mag"))
        .orderBy(F.col("_mag").desc(), F.col("bucket").asc())
        .limit(top_k)
        .drop("_mag"))
