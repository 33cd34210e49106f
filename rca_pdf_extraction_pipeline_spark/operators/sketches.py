"""Cardinality sketches — HyperLogLog distinct-count estimation with a
fully deterministic, engine-portable hash so any SQL engine replays the
exact estimate (Flajolet, Fusy, Gandouet & Meunier, AofA 2007).

Why not ``approx_count_distinct``: Spark's built-in HLL++ and DuckDB's
``approx_count_distinct`` use different internal hashes and bias tables,
so their estimates can never be compared cross-engine.  This operator
derives the sketch from ``md5`` (60 usable bits — 15 hex chars, safely
below signed-64 overflow), making the estimate a pure deterministic
function of the value set: the DuckDB oracle reproduces it to the last
bit, and two clusters computing it independently agree.

Scale (100 TB): the whole point of the sketch.  An exact distinct count
of a high-cardinality column shuffles every distinct value; the HLL
register table is at most ``m = 2^p`` rows PER GROUP regardless of input
size, the map-side partial ``max`` collapses almost everything before
the exchange, and register tables merge by bucket-wise max — so
per-partition sketches, per-day sketches, and cross-corpus rollups
compose without touching raw data again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default precision: m=4096 registers, ~1.6% standard error, 4 KB/group
DEFAULT_P = 12

_HASH_BITS = 60


def _hash60(col: Column) -> Column:
    """15 md5 hex chars -> 60-bit non-negative long (signed-safe)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10) \
            .cast("long")


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: tuple[str, ...] = (),
                  p: int = DEFAULT_P) -> DataFrame:
    """The mergeable sketch table: (group..., bucket, max_rank) with at
    most ``2**p`` rows per group.  ``bucket`` is the top ``p`` hash
    bits; ``rank`` is 1 + the number of leading zeros in the remaining
    ``60-p`` bits (``60-p+1`` when they are all zero).

    Merging two register tables is ``groupBy(group, bucket).max`` —
    union then re-aggregate; no raw values needed.
    """
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    suffix_bits = _HASH_BITS - p
    # NULLs never register: countDistinct ignores NULL, and an unfiltered
    # md5(NULL) row would land a (NULL, NULL) register that inflates _nz
    df = df.where(F.col(value_col).isNotNull())
    h = _hash60(F.col(value_col))
    bucket = F.shiftrightunsigned(h, suffix_bits)
    suffix = h.bitwiseAND(F.lit((1 << suffix_bits) - 1))
    # length(bin(x)) = floor(log2(x)) + 1 exactly (no float log), so
    # rank = suffix_bits - msb_position + 1; all-zero suffix -> max rank
    rank = F.when(suffix == 0, F.lit(suffix_bits + 1)) \
            .otherwise(F.lit(suffix_bits) - F.length(F.bin(suffix)) + 1)
    return (df.select(*group_cols, bucket.alias("bucket"),
                      rank.alias("rank"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rank").alias("max_rank")))


def hll_estimate(registers: DataFrame,
                 group_cols: tuple[str, ...] = (),
                 p: int = DEFAULT_P) -> DataFrame:
    """Collapse a register table to (group..., est_distinct).

    Raw estimate ``alpha_m * m^2 / sum_j 2^-M_j`` (empty registers
    contribute 2^0 = 1 each); below ``2.5 m`` with empty registers it
    switches to linear counting ``m * ln(m / V)`` (V = empty count) —
    the standard small-range correction from the HLL paper.

    Determinism: the harmonic sum is computed as an EXACT integer —
    ``SUM(1 << (61 - p - max_rank))`` (max addend ``2^(60-p)``, total
    under ``2^61``: never overflows a long) — then scaled by the exact
    power-of-two ``2^(61-p)``.  A floating ``sum(2^-rank)`` would be
    addition-order-dependent across partitions; the integer sum makes
    the estimate a pure function of the value set, so any engine, any
    partitioning, any merge order reproduces it bit-for-bit.
    """
    m = float(1 << p)
    suffix_bits = _HASH_BITS - p
    # bias correction per Flajolet et al. 2007 §4: small m has dedicated
    # constants; the closed form only holds for m >= 128 (p >= 7)
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1.0 + 1.079 / m))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(
            f"shiftleft(cast(1 as bigint), {suffix_bits + 1} - max_rank)"))
        .alias("_si"),
        F.count(F.lit(1)).alias("_nz"))
    s = F.col("_si") / F.lit(float(1 << (suffix_bits + 1)))
    zeros = F.lit(m) - F.col("_nz")
    raw = F.lit(alpha * m * m) / (s + zeros)
    linear = F.lit(m) * F.log(F.lit(m) / zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear) \
           .otherwise(raw)
    return agg.select(*group_cols, F.round(est, 3).alias("est_distinct"))


def distinct_tokens_by_group(docs: DataFrame) -> DataFrame:
    """Per-group distinct-token cardinality: HLL estimate next to the
    exact count (cheap at test scale; at 100 TB you drop the exact
    column and keep the sketch).  Returns (group, est_distinct,
    exact_distinct, rel_err_pct) ordered by group.
    """
    from ..functions import text as T

    toks = (docs.select(F.col("lang").alias("grp"),
                        F.explode(T.tokens(F.col("text"))).alias("tok")))
    regs = hll_registers(toks, "tok", ("grp",))
    est = hll_estimate(regs, ("grp",))
    exact = toks.groupBy("grp").agg(
        F.countDistinct("tok").alias("exact_distinct"))
    return (est.join(exact, "grp")
            .select(F.col("grp").alias("lang"), "est_distinct",
                    "exact_distinct",
                    F.round(F.abs(F.col("est_distinct")
                                  - F.col("exact_distinct"))
                            / F.col("exact_distinct") * 100, 3)
                    .alias("rel_err_pct"))
            .orderBy("lang"))


def cms_counters(df: DataFrame, value_col: str, depth: int = 4,
                 width: int = 1024) -> DataFrame:
    """Count-min sketch counter table (Cormode & Muthukrishnan, J.Alg
    2005): ``depth x width`` counters as rows (row, bucket, cnt) — at
    most ``depth * width`` rows regardless of input size.

    Row ``r``'s bucket for value v derives from an independent slice of
    ``md5(r || '|' || v)`` — deterministic and engine-portable like
    :func:`hll_registers`, so a SQL oracle reproduces every counter.

    Scale: the input projects to (row, bucket) pairs (``depth`` rows per
    record via a tiny posexplode) and hash-aggregates with map-side
    partial sums — the exchange carries at most ``depth * width``
    grouped rows per map task, never values.  Counter tables merge by
    bucket-wise SUM, so per-partition / per-day sketches compose.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2, "
                         f"got {depth} x {width}")
    rows = F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            F.pmod(
                F.conv(F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(r)),
                                      F.col(value_col).cast("string"))),
                    1, 15), 16, 10).cast("long"),
                F.lit(width)).alias("bucket"))
        for r in range(depth)])
    # symmetric with hll_registers: NULL values never count
    return (df.where(F.col(value_col).isNotNull())
            .select(F.explode(rows).alias("rb"))
            .select(F.col("rb.row").alias("row"),
                    F.col("rb.bucket").alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(counters: DataFrame, queries_df: DataFrame,
                 value_col: str, depth: int = 4,
                 width: int = 1024) -> DataFrame:
    """Point-estimate counts for the values in ``queries_df``: the MIN
    over the ``depth`` counters each value hashes to (overestimates
    only, by < e*N/width with probability 1 - e^-depth).

    Returns (value, est_count).  The query side re-derives its (row,
    bucket) keys and joins the counter table; with the default 4 KB
    sketch the counters broadcast, so estimating any number of values
    is a narrow pass over the query list.
    """
    rows = F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            F.pmod(
                F.conv(F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(r)),
                                      F.col(value_col).cast("string"))),
                    1, 15), 16, 10).cast("long"),
                F.lit(width)).alias("bucket"))
        for r in range(depth)])
    keyed = (queries_df.select(F.col(value_col).alias("value"),
                               F.explode(rows).alias("rb"))
             .select("value", F.col("rb.row").alias("row"),
                     F.col("rb.bucket").alias("bucket")))
    return (keyed.join(F.broadcast(counters), ["row", "bucket"], "left")
            .groupBy("value")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est_count")))


def token_counts_with_cms(docs: DataFrame, depth: int = 4,
                          width: int = 1024) -> DataFrame:
    """Corpus token frequencies through the count-min sketch, next to
    the exact counts (value, est_count, exact_count) ordered by value —
    est_count >= exact_count always, equal when the value's ``depth``
    buckets saw no collisions.  At 100 TB the exact side disappears and
    the ``depth x width``-row counter table answers any frequency query
    via broadcast.
    """
    from ..functions import text as T

    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("value"))
    counters = cms_counters(toks, "value", depth, width)
    est = cms_estimate(counters, toks.distinct(), "value", depth, width)
    exact = toks.groupBy("value").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "value").orderBy("value")


def bloom_words(df: DataFrame, value_col: str, m_bits: int = 1 << 14,
                k: int = 4) -> DataFrame:
    """Bloom filter (Bloom, CACM 1970) as a word table: ``m_bits`` bits
    packed into 32-bit words, one row per NON-ZERO word — (word_idx,
    word) with word_idx in [0, m_bits/32).  At most m_bits/32 rows
    regardless of input size; filters merge by word-wise BIT_OR, so
    per-partition / per-day filters compose (the join-pruning /
    decontamination pre-filter shape: build on the small side, broadcast
    the word table, drop rows whose k bits can't all be set).

    Hash ``i`` of value v is an independent md5 slice
    (``md5(i || ':' || v)``), mod ``m_bits`` — deterministic and
    engine-portable like the HLL/CMS sketches, so a SQL oracle
    reproduces every word.  Words are 32-bit so ``1 << bit`` never
    touches the sign bit of either engine's BIGINT.

    Scale: one tiny posexplode (k rows per record, carrying two ints),
    map-side-combined BIT_OR — the exchange holds at most m_bits/32
    grouped rows per map task, never values.
    """
    if m_bits < 32 or m_bits % 32:
        raise ValueError(f"m_bits must be a positive multiple of 32; "
                         f"got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    pos = F.array(*[
        F.pmod(
            F.conv(F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)),
                                  F.col(value_col).cast("string"))),
                1, 15), 16, 10).cast("long"),
            F.lit(m_bits))
        for i in range(k)])
    return (df.where(F.col(value_col).isNotNull())
            .select(F.explode(pos).alias("bit"))
            # SQL-expr shift: the DataFrame shiftleft() only takes a
            # literal bit count, not a column
            .select((F.col("bit") / 32).cast("long").alias("word_idx"),
                    F.expr("shiftleft(1L, cast(pmod(bit, 32) as int))")
                    .alias("w"))
            .groupBy("word_idx")
            .agg(F.bit_or("w").alias("word")))


def bloom_contains(words: DataFrame, probes: DataFrame, value_col: str,
                   m_bits: int = 1 << 14, k: int = 4) -> DataFrame:
    """Membership test against a :func:`bloom_words` table: one row per
    probe with ``maybe_present`` (no false negatives; false-positive
    rate ~ (1 - e^(-k*n/m))^k).  The probe side explodes to its k bit
    positions and left-joins the word table (broadcast it when the
    filter is the small side — m_bits/32 rows); a probe is IN iff every
    one of its k bits is set."""
    pos = F.array(*[
        F.pmod(
            F.conv(F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)),
                                  F.col(value_col).cast("string"))),
                1, 15), 16, 10).cast("long"),
            F.lit(m_bits))
        for i in range(k)])
    p = (probes.where(F.col(value_col).isNotNull())
         .select(F.col(value_col).alias("probe"), F.explode(pos).alias("bit"))
         .select("probe",
                 (F.col("bit") / 32).cast("long").alias("word_idx"),
                 F.expr("shiftleft(1L, cast(pmod(bit, 32) as int))")
                 .alias("mask")))
    return (p.join(F.broadcast(words), "word_idx", "left")
            .select("probe",
                    (F.coalesce(F.col("word"), F.lit(0))
                     .bitwiseAND(F.col("mask")) != 0).alias("hit"))
            .groupBy("probe")
            .agg(F.bool_and("hit").alias("maybe_present"))
            .orderBy("probe"))


def vocab_overlap_by_group(docs: DataFrame) -> DataFrame:
    """Pairwise vocabulary overlap between groups WITHOUT a token join —
    HLL inclusion-exclusion: |A ∩ B| ≈ |A| + |B| - |A ∪ B|, where the
    union estimate comes from bucket-wise max-merging the two groups'
    register tables (the mergeability that makes HLL an algebra, not
    just a counter).  The cross-source contamination / shared-jargon
    signal a curation dashboard wants, at sketch cost.

    Returns (group_a, group_b, est_a, est_b, est_union, est_overlap,
    est_jaccard) for every unordered group pair, groups ascending.
    Every component is the deterministic integer-lattice estimate of
    :func:`hll_estimate`, so the numbers replay bit-for-bit in SQL.

    Scale: ONE corpus token pass builds the per-group registers
    (<= groups x 2^p rows — the stored sketch artifact); the pair stage
    is tiny-table math (pairs x 2^p), so G groups cost G^2 register
    merges, never another corpus scan.  Cap or pre-filter groups
    upstream if G^2 x 2^p stops being tiny."""
    from ..functions import text as T

    toks = (docs.select(F.col("lang").alias("grp"),
                        F.explode(T.tokens(F.col("text"))).alias("tok")))
    # multi-consumer layer (single estimates + pair merges): persist so
    # the corpus token pass runs once (CLAUDE.md cross-branch rule)
    regs = hll_registers(toks, "tok", ("grp",)).persist()
    singles = hll_estimate(regs, ("grp",))
    groups = singles.select(F.col("grp"), F.col("est_distinct"))
    pairs = (groups.select(F.col("grp").alias("ga"),
                           F.col("est_distinct").alias("est_a"))
             .join(groups.select(F.col("grp").alias("gb"),
                                 F.col("est_distinct").alias("est_b")),
                   F.col("ga") < F.col("gb")))
    merged = (pairs.select("ga", "gb")
              .join(regs, (F.col("grp") == F.col("ga"))
                    | (F.col("grp") == F.col("gb")))
              .groupBy("ga", "gb", "bucket")
              .agg(F.max("max_rank").alias("max_rank")))
    eu = hll_estimate(merged, ("ga", "gb")) \
        .withColumnRenamed("est_distinct", "est_union")
    out = (pairs.join(eu, ["ga", "gb"])
           .withColumn("est_overlap",
                       F.round(F.col("est_a") + F.col("est_b")
                               - F.col("est_union"), 3))
           .withColumn("est_jaccard",
                       F.round(F.col("est_overlap") / F.col("est_union"), 6)))
    return (out.select(F.col("ga").alias("group_a"),
                       F.col("gb").alias("group_b"),
                       "est_a", "est_b", "est_union",
                       "est_overlap", "est_jaccard")
            .orderBy("group_a", "group_b"))


def heavy_hitters(df: DataFrame, value_col: str, threshold: int,
                  n_buckets: int = 4096) -> DataFrame:
    """EXACT heavy hitters — every value occurring >= ``threshold``
    times, with its exact count — found in two passes with a hashed
    candidate prune instead of a full exact group-by.

    Pass 1 aggregates counts per ``md5``-derived bucket (<= n_buckets
    rows survive the map-side partial regardless of cardinality).  A
    bucket's count upper-bounds every member value's count (the
    one-row count-min property), so buckets below the threshold are
    eliminated WITH PROOF.  Pass 2 exact-counts only values whose
    bucket survived: the bucket filter is a broadcast semi-join inside
    the scan, so the second exchange carries only candidate values —
    at corpus scale the heavy tail (the overwhelming majority of
    distinct values) never shuffles.

    False positives in the candidate set (light values sharing a heavy
    bucket) are removed by the exact pass-2 HAVING; the result is
    therefore exactly ``GROUP BY value HAVING count >= threshold``.
    Raise ``n_buckets`` if too many light values collide into
    surviving buckets (pass-2 shuffle volume is the symptom).
    """
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    vals = df.where(F.col(value_col).isNotNull()).select(F.col(value_col))
    bucket = F.pmod(_hash60(F.col(value_col)), F.lit(n_buckets)).alias("_bkt")
    hot = (vals.select(bucket)
           .groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") >= threshold)
           .select("_bkt"))
    return (vals.select(F.col(value_col), bucket)
            .join(F.broadcast(hot), "_bkt", "left_semi")
            .groupBy(value_col)
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= threshold))
