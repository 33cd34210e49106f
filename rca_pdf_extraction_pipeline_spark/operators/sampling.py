"""Deterministic sampling & dataset splitting — the reproducibility
primitives of a training-data pipeline.  ``df.sample()`` is
seed-dependent on partitioning and row order; these operators decide
membership from a content-independent hash of the ROW ID alone, so the
same document lands in the same sample/split on every run, every
cluster size, and every engine (md5-derived — DuckDB replays exactly).

  * ``hash_sample``            — keep a deterministic ~``rate`` fraction
  * ``train_val_test_split``   — disjoint, exhaustive split labels
  * ``stratified_hash_sample`` — per-stratum rates (e.g. per language)

Scale: all three are narrow per-row filters/projections — no shuffle,
no state; they pipeline inside the scan stage and compose with
partition pruning.  (Broder-style hash sampling; the md5-mod idiom is
the public standard for reproducible corpus subsampling.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H

#: hash buckets per row: membership thresholds are integer PER-MILLION
#: cuts of the bucket space, so rates are exact rationals (no float
#: boundary ambiguity between engines)
SAMPLE_BUCKETS = 1_000_000


def sample_bucket(id_col: Column, seed: int = 0) -> Column:
    """Deterministic bucket in [0, 1e6): hash32(md5('<seed>:' || id)) mod 1e6.

    DuckDB twin:
    ``('0x' || substr(md5(seed || ':' || id), 1, 8))::BIGINT % 1000000``.
    """
    return H.hash32(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))) \
        % SAMPLE_BUCKETS


def hash_sample(docs: DataFrame, rate: float, seed: int = 0,
                id_col: str = "doc_id") -> DataFrame:
    """The deterministic ~``rate`` sample: rows whose bucket falls below
    ``rate * 1e6``.  Same rows on every run and at any parallelism."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1]; got {rate}")
    cut = int(round(rate * SAMPLE_BUCKETS))
    return docs.filter(sample_bucket(F.col(id_col), seed) < cut)


def _range_rank(df: DataFrame, group_cols: list[str],
                order_cols: list[str]) -> DataFrame:
    """Append ``_rk`` — the 1-based global rank of each row within its
    ``group_cols`` group under ``order_cols`` — with bounded per-task
    memory at ANY group size (a plain ``Window.partitionBy(group)``
    rank sorts the whole group in one task; a hot group at corpus scale
    is an OOM/stall).

    The ``pack_documents`` decomposition generalized: range-repartition
    on (group, order) into spark.sql.shuffle.partitions contiguous
    slices, rank
    within each (range, group) cell under a partitioned window, then
    shift by the same-group row counts of earlier ranges — a tiny
    aggregate (each group spans ~1 range boundary, so ~num_ranges +
    n_groups rows) whose running sum comes from a triangular self-join
    and returns via broadcast.  Any contiguous split yields the
    identical global rank, so the result is partition-invariant.

    ``order_cols`` must be a total order within each group (include a
    unique id as the last column) or ranks at range boundaries would
    depend on the split.

    Correctness leans on one physical invariant: the ``within`` window
    branch and the ``counts`` aggregate branch below both consume
    ``ranged``, and both must observe the SAME partition-id assignment
    from ONE shared range exchange — RangePartitioner samples its
    boundaries with an RDD-id-derived seed, so two independently
    materialized exchanges could draw different boundaries and corrupt
    the rank shift at range borders.  Spark's ReuseExchangeAndSubquery
    rule (and AQE's runtime stage cache) collapses the canonically
    identical exchanges into one shuffle; the plan pin
    ``test_plan_hygiene.test_range_rank_single_shared_range_exchange``
    fails loudly if that reuse ever stops firing."""
    num_ranges = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    from pyspark.sql import Window

    ranged = df.repartitionByRange(
        num_ranges, *[F.col(c) for c in group_cols + order_cols]) \
        .withColumn("_rng", F.spark_partition_id())
    w = (Window.partitionBy("_rng", *group_cols)
         .orderBy(*[F.col(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = ranged.withColumn("_rk_in", F.count(F.lit(1)).over(w))
    counts = ranged.groupBy("_rng", *group_cols).agg(
        F.count(F.lit(1)).alias("_n"))
    earlier = counts.select(
        F.col("_rng").alias("_erng"), F.col("_n").alias("_en"),
        *[F.col(c).alias(f"_e_{c}") for c in group_cols])
    same_group = F.lit(True)
    for c in group_cols:
        same_group = same_group & (F.col(f"_e_{c}") == F.col(c))
    offsets = (counts.join(earlier,
                           same_group & (F.col("_erng") < F.col("_rng")),
                           "left")
               .groupBy("_rng", *group_cols)
               .agg(F.coalesce(F.sum("_en"), F.lit(0)).alias("_off")))
    return (within.join(F.broadcast(offsets), ["_rng", *group_cols])
            .withColumn("_rk", F.col("_off") + F.col("_rk_in"))
            .drop("_rng", "_rk_in", "_off"))


def epoch_shards(docs: DataFrame, n_shards: int, epoch: int = 0,
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic epoch shuffling + sharding — the data-ordering
    primitive of a training run: every document gets a (shard,
    pos_in_shard) for the given ``epoch``, forming a reproducible
    pseudo-random permutation of the corpus into ``n_shards`` equal-ish
    sequential streams.  Different epochs are independent permutations;
    the same (epoch, corpus) reproduces bit-for-bit on any cluster, any
    partitioning, any engine.

    Key = hash32(md5('e<epoch>:' || id)): shard = key mod n_shards; pos
    = rank of (key, id) within the shard (the id tiebreak makes the
    permutation total even on hash collisions).

    Scale formulation: :func:`_range_rank` (the ``pack_documents``
    range-cumsum decomposition — a Window.partitionBy(shard) rank would
    sort corpus/n_shards rows in ONE task per shard).  Per-task memory
    is corpus/shuffle partitions regardless of n_shards, and the SQL oracle
    stays the one-line per-shard ROW_NUMBER formulation.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1; got {n_shards}")
    key = H.hash32(F.concat(F.lit(f"e{epoch}:"),
                            F.col(id_col).cast("string")))
    keyed = (docs.select(F.col(id_col), key.alias("shuffle_key"))
             .withColumn("shard", (F.col("shuffle_key") % n_shards)
                         .cast("int")))
    ranked = _range_rank(keyed, ["shard"], ["shuffle_key", id_col])
    # pos stays LONG: at the 10^12-doc scale this decomposition exists
    # for, per-shard position exceeds int32 with a handful of shards —
    # an int cast is an ANSI runtime error or a silent wraparound
    return ranked.select(F.col(id_col), F.col("shard"),
                         (F.col("_rk") - 1).cast("long").alias("pos"))


def train_val_test_split(docs: DataFrame,
                         weights: tuple[float, float, float] = (0.8, 0.1, 0.1)
                         ) -> DataFrame:
    """Append a ``split`` column ('train' | 'val' | 'test') — disjoint
    and exhaustive by construction (consecutive seed-0 bucket ranges)."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1; got {weights}")
    cut1 = int(round(weights[0] * SAMPLE_BUCKETS))
    cut2 = cut1 + int(round(weights[1] * SAMPLE_BUCKETS))
    b = sample_bucket(F.col("doc_id"))
    split = (F.when(b < cut1, F.lit("train"))
             .when(b < cut2, F.lit("val"))
             .otherwise(F.lit("test")))
    return docs.withColumn("split", split)


def leakage_safe_split(docs: DataFrame,
                       weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Contamination-safe train/val/test split: every MinHash near-dup
    connected component travels into ONE split, because membership is
    decided by the hash bucket of the component LABEL (the component's
    minimum doc id), not of the document itself.  A plain per-document
    hash split lets near-duplicates straddle the train/test boundary —
    the train-test leakage that deduplication papers warn inflates
    eval scores (Lee et al. 2021 §6.2; GPT-3's contamination appendix).

    Documents in no near-dup component label themselves, so for a
    fully-deduplicated corpus this degrades EXACTLY to
    :func:`train_val_test_split` (components at Jaccard >= 0.8).

    Scale: the component labels come from the shared min-label loop
    (``dedup._cc_labels`` -> ``linkgraph.connected_components``;
    banded candidate generation, never all-pairs; pass
    ``checkpoint_dir`` for durable round materialization on a cluster),
    then one keyed join and a narrow bucket filter."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1; got {weights}")
    from .dedup import _cc_labels

    labels = _cc_labels(docs, 0.8, checkpoint_dir)
    cut1 = int(round(weights[0] * SAMPLE_BUCKETS))
    cut2 = cut1 + int(round(weights[1] * SAMPLE_BUCKETS))
    b = sample_bucket(F.col("label"))
    split = (F.when(b < cut1, F.lit("train"))
             .when(b < cut2, F.lit("val"))
             .otherwise(F.lit("test")))
    return (docs.join(labels.withColumnRenamed("node", "doc_id"), "doc_id")
            .withColumn("split", split)
            .drop("label"))


def per_group_sample(docs: DataFrame, group_col: str, k: int,
                     seed: int = 0) -> DataFrame:
    """EXACTLY ``k`` rows per group (fewer if the group is smaller) —
    the eval-set constructor ("100 held-out docs per language").

    Deterministic uniform choice: rank rows inside each group by their
    sample bucket (ties by id) and keep rank <= k.  Ranks come from
    :func:`_range_rank`, so a hot group (one language holding half the
    corpus) never funnels into a single window task — per-task memory
    is corpus/num_ranges at any group skew.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    ranked = _range_rank(
        docs.withColumn("_bucket", sample_bucket(F.col("doc_id"), seed)),
        [group_col], ["_bucket", "doc_id"])
    return ranked.filter(F.col("_rk") <= k).drop("_rk", "_bucket")


def weighted_priority_sample(docs: DataFrame, weight_col: str, k: int,
                             seed: int = 0) -> DataFrame:
    """EXACTLY ``k`` rows sampled without replacement with probability
    proportional to ``weight_col`` — priority sampling (Duffield, Lund
    & Thorup, JACM 2007): row priority = w / u for a per-row uniform
    u in (0, 1], keep the k largest priorities.  The quality-weighted /
    importance-weighted subcorpus constructor (e.g. sample docs
    proportional to length or quality score).

    Deterministic AND cross-engine exact: u = (bucket+1)/1e6 from the
    md5 bucket, so priority = w * 1e6 / (bucket+1) is a single IEEE
    division of two exact integers — bit-identical in any engine; ties
    broken by id.  Rows with non-positive weight are excluded.

    Scale: narrow scan + TakeOrderedAndProject — O(k) memory per task,
    no global sort, no shuffle of the data itself."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    w = F.col(weight_col).cast("double")
    pri = (w * SAMPLE_BUCKETS
           / (sample_bucket(F.col("doc_id"), seed) + 1).cast("double"))
    return (docs.filter(w > 0)
            .withColumn("priority", pri)
            .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
            .limit(k))


def mixture_sample(docs: DataFrame, source_col: str,
                   targets: dict[str, int], seed: int = 0) -> DataFrame:
    """Deterministic data-mixture construction: keep ~``targets[s]``
    rows of each source ``s`` (all of them when the source is smaller
    than its target) — the "mix 30% web / 30% code / 40% books" recipe
    step of a training-data pipeline, as one declarative plan.

    Per-source keep-rate = min(1, target/n) becomes an integer bucket
    cut (round(target*1e6/n) — one exact-integer IEEE division, so any
    engine derives the identical cut), and membership is the same
    content-independent hash filter as ``hash_sample``.  Sources absent
    from ``targets`` are dropped.

    Scale: one tiny counts aggregate (|sources| rows, broadcast back) +
    a narrow filter on the scan — no data shuffle."""
    for s, t in targets.items():
        if t < 0:
            raise ValueError(f"negative target for source {s!r}: {t}")
    tgt = F.create_map(*[F.lit(x) for kv in targets.items() for x in kv])
    counts = (docs.filter(F.col(source_col).isin(*targets.keys()))
              .groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
              .withColumn("_cut", F.least(
                  F.lit(SAMPLE_BUCKETS).cast("bigint"),
                  F.round(tgt[F.col(source_col)].cast("double")
                          * SAMPLE_BUCKETS / F.col("_n")).cast("bigint"))))
    return (docs.join(F.broadcast(counts), source_col)
            .filter(sample_bucket(F.col("doc_id"), seed) < F.col("_cut"))
            .drop("_n", "_cut"))


def token_mixture_sample(docs: DataFrame, source_col: str,
                         token_targets: dict[str, int],
                         seed: int = 0) -> DataFrame:
    """:func:`mixture_sample` with TOKEN budgets instead of row counts —
    the unit a training recipe is actually written in ("500B web
    tokens, 100B code tokens").  Per-source keep-rate is
    ``min(1, target_tokens / total_tokens)`` over ``n_chars`` (a
    pre-computed per-doc token/char count column); membership is the
    usual content-independent md5 bucket filter, so the EXPECTED kept
    token mass per source is the target (exact only in expectation —
    documents are kept whole; a row-count mixture can't even promise
    that when doc lengths differ across sources).

    Scale: one tiny per-source SUM aggregate broadcast back + a narrow
    scan filter — same shape as :func:`mixture_sample`."""
    for s, t in token_targets.items():
        if t < 0:
            raise ValueError(f"negative token target for source {s!r}: {t}")
    tgt = F.create_map(*[F.lit(x) for kv in token_targets.items() for x in kv])
    totals = (docs.filter(F.col(source_col).isin(*token_targets.keys()))
              .groupBy(source_col)
              .agg(F.sum(F.col("n_chars").cast("long")).alias("_tok"))
              .withColumn("_cut", F.least(
                  F.lit(SAMPLE_BUCKETS).cast("bigint"),
                  F.round(tgt[F.col(source_col)].cast("double")
                          * SAMPLE_BUCKETS / F.col("_tok")).cast("bigint"))))
    return (docs.join(F.broadcast(totals), source_col)
            .filter(sample_bucket(F.col("doc_id"), seed) < F.col("_cut"))
            .drop("_tok", "_cut"))


#: exponent 1 - alpha for each supported temperature, as a SQL factor
#: over ``r = n_max / n_g`` built from division and sqrt ONLY — both
#: correctly rounded under IEEE-754, so every engine computes the
#: bit-identical cut (``pow(r, 0.3)`` carries no such guarantee; a
#: last-ulp disagreement would flip rows at the cut boundary).
_TEMPERATURE_FACTORS = {
    1.0: "1.0",                    # natural distribution
    0.75: "sqrt(sqrt({r}))",       # r^(1/4)
    0.5: "sqrt({r})",              # r^(1/2)
    0.0: "({r})",                  # r^1: equal expected counts per group
}


def temperature_sample(docs: DataFrame, alpha: float = 0.5,
                       base_rate: float = 0.2, seed: int = 0) -> DataFrame:
    """Temperature-scaled mixture resampling — the multilingual-training
    rebalance of Lample & Conneau 2019 (XLM) / Conneau et al. 2020
    (XLM-R): sample groups proportionally to ``p_g^alpha`` so that
    ``alpha < 1`` upweights tail languages/sources.  Keep rate per
    group is

        r_g = min(1, base_rate * (n_max / n_g)^(1 - alpha))

    — the LARGEST group keeps exactly ``base_rate``, rarer groups keep
    progressively more, capped at keeping everything.

    ``alpha`` is restricted to {0.0, 0.5, 0.75, 1.0}: those exponents
    evaluate via division and sqrt only (see ``_TEMPERATURE_FACTORS``),
    keeping the per-group cut bit-identical across engines.  Membership
    is the usual content-independent md5 bucket filter, so the selected
    set is reproducible on any cluster size and replayable in DuckDB.

    Scale: one tiny per-group counts aggregate (broadcast back) + a
    narrow filter on the scan — no data shuffle, same shape as
    :func:`mixture_sample`."""
    if alpha not in _TEMPERATURE_FACTORS:
        raise ValueError(
            f"alpha must be one of {sorted(_TEMPERATURE_FACTORS)} "
            f"(exponents exactly representable via sqrt chains); got {alpha}")
    if not 0.0 < base_rate <= 1.0:
        raise ValueError(f"base_rate must be in (0, 1]; got {base_rate}")
    cut0 = base_rate * SAMPLE_BUCKETS  # exact: one IEEE multiply
    factor = _TEMPERATURE_FACTORS[alpha].format(
        r="cast(_nmax as double) / cast(_n as double)")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    nmax = counts.agg(F.max("_n").alias("_nmax"))
    cuts = (counts.crossJoin(F.broadcast(nmax))
            .withColumn("_cut", F.expr(
                f"cast(floor(least({SAMPLE_BUCKETS}.0, "
                f"{cut0!r} * {factor})) as bigint)")))
    return (docs.join(F.broadcast(cuts), "lang")
            .filter(sample_bucket(F.col("doc_id"), seed) < F.col("_cut"))
            .drop("_n", "_nmax", "_cut"))


def stratified_hash_sample(docs: DataFrame, strata_col: str,
                           rates: dict[str, float], default_rate: float = 0.0,
                           seed: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling — e.g. keep 100% of rare
    languages and 10% of the dominant one.  Strata missing from
    ``rates`` use ``default_rate``."""
    cut = F.lit(int(round(default_rate * SAMPLE_BUCKETS)))
    for value, rate in sorted(rates.items()):
        cut = F.when(F.col(strata_col) == value,
                     F.lit(int(round(rate * SAMPLE_BUCKETS)))).otherwise(cut)
    return docs.filter(sample_bucket(F.col("doc_id"), seed) < cut)


def dsir_topk(docs: DataFrame, target_value: str, k: int,
              n_buckets: int = 10_000, seed: int = 0) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    pick the ``k`` raw-corpus documents that look most like the target
    domain, by importance weight under hashed bag-of-words models.

    * model fit: ONE corpus token pass builds the hashed-unigram counts
      for the raw corpus and the target slice (``source == target_value``)
      simultaneously — tokens are bucketed ``hash32(tok) % n_buckets``
      exactly as the paper prescribes, so the model table is at most
      ``n_buckets`` rows regardless of corpus size and broadcasts;
    * per-token log importance ratio, Laplace-smoothed on the target
      side: ``ln((cnt_t+1)/(total_t+n_buckets)) - ln(cnt_r/total_r)``,
      each log quantized to an INTEGER (x1e6) before any cross-row sum,
      so document weights are exact bigint math (the unigram_logprob
      discipline — no float summation-order drift between engines);
    * resampling: Gumbel-top-k over ``logw + g`` where
      ``g = -ln(-ln(u))`` and ``u = (md5-bucket+1)/(1e6+1)`` — the
      standard weighted-sampling-without-replacement trick, fully
      deterministic and replayable by any engine.

    Returns (id, n_tokens, dsir_logw, dsir_key): the selected docs
    (``source != target_value`` — you select from raw, not from the
    target itself), dsir_key descending, ties by ascending id.

    Scale: two corpus passes (fit, score) — the paper's own shape; the
    model join is a broadcast of <= n_buckets rows, scoring is a narrow
    scan + one partial-agg groupBy(id), and the final top-k is
    TakeOrderedAndProject (O(k) per task, no global sort).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2; got {n_buckets}")
    from ..functions import text as T
    toks = docs.select(
        F.col("doc_id"), F.col("source"),
        F.explode(T.tokens(F.col("text"))).alias("tok"))
    btoks = toks.select(
        F.col("doc_id"), F.col("source"),
        (H.hash32(F.col("tok")) % n_buckets).alias("b"))
    freq = btoks.groupBy("b").agg(
        F.count(F.lit(1)).alias("cnt_r"),
        F.sum(F.when(F.col("source") == target_value, 1)
              .otherwise(0)).alias("cnt_t"))
    tot = freq.agg(F.sum("cnt_r").alias("total_r"),
                   F.sum("cnt_t").alias("total_t"))
    lq = lambda x: F.round(F.log(x) * F.lit(1_000_000.0), 0).cast("long")
    model = (freq.crossJoin(F.broadcast(tot))
             .select(F.col("b"),
                     (lq((F.col("cnt_t") + 1)
                         / (F.col("total_t") + F.lit(n_buckets)))
                      - lq(F.col("cnt_r") / F.col("total_r"))).alias("lr")))
    cand = docs.filter(F.col("source") != target_value)
    per_doc = (btoks.filter(F.col("source") != target_value)
               .join(F.broadcast(model), "b")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("lr").alias("lw")))
    u = ((sample_bucket(F.col("doc_id"), seed) + 1)
         / F.lit(float(SAMPLE_BUCKETS + 1)))
    gumbel = F.round(-F.log(-F.log(u)) * F.lit(1_000_000.0), 0).cast("long")
    return (cand.select(F.col("doc_id")).join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.round(F.coalesce(F.col("lw"), F.lit(0))
                            / F.lit(1_000_000.0), 6).alias("dsir_logw"),
                    (F.coalesce(F.col("lw"), F.lit(0)) + gumbel)
                    .alias("dsir_key"))
            .orderBy(F.col("dsir_key").desc(), F.col("doc_id").asc())
            .limit(k))
