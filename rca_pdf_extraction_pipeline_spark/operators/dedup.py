"""Corpus deduplication operators — exact, MinHash+LSH, SimHash,
token-set Jaccard. DataFrame-native (no UDFs); every hash derives from
md5 so a DuckDB oracle can replay them exactly (functions/hashing.py).

Scale design (100 TB corpus):
  * exact dedup     — one hash-shuffle on a 16-byte digest; map-side
    partial aggregation collapses most groups before the exchange.
  * MinHash LSH     — signature computation is shuffle-free; the only
    shuffles are the per-band self-joins on the band key, whose
    cardinality per bucket is tiny for honest near-dup thresholds.
    Banding is the standard S-curve trade-off (Leskovec et al., MMDS
    ch.3): b bands of r rows ≈ threshold (1/b)^(1/r).
  * Jaccard verify  — only candidate pairs from banding are verified,
    never the O(N^2) cross join; blocking keys bound the worst case.
  * SimHash         — per-(doc, bit) partial sums then a groupBy(doc);
    near-dup = small Hamming distance on the signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T

DEFAULT_MINHASH_SEEDS = 8
DEFAULT_BANDS = 2
#: pigeonhole bands for the near-pair join: 4 disjoint 16-bit bands over
#: the 64-bit signature => 2^16 blocks per band, and any pair with
#: Hamming distance <= SIMHASH_BANDS - 1 = 3 agrees exactly on >=1 band.
SIMHASH_BANDS = 4
#: SWAR SimHash packs four 16-bit per-bit counters per long: a document
#: with more distinct shingles than this overflows a lane into its
#: neighbour and silently corrupts the signature, so the operator
#: raises instead (chunk oversized docs upstream, operators/chunking.py).
SIMHASH_LANE_CAP = 65535


class _Materializer:
    """Lineage cut + row pinning for iterative / reused intermediates.

    Default (``checkpoint_dir=None``): ``localCheckpoint(eager=True)`` —
    fast, but blocks live on executors, so one lost executor kills a
    long-running job mid-dedup.  With ``checkpoint_dir`` set, each
    materialization is written to real storage (parquet under a unique
    subdirectory) and read back — fault-tolerant on a cluster where the
    dir is HDFS/S3, and inspectable after the run.  The round-trip also
    truncates the logical plan exactly like ``localCheckpoint``, so the
    CC label loop's plans stay O(1) either way.
    """

    def __init__(self, checkpoint_dir: str | None = None):
        self.dir = checkpoint_dir
        self._n = 0
        self._run_token: str | None = None

    def __call__(self, df: DataFrame, name: str) -> DataFrame:
        if self.dir is None:
            return df.localCheckpoint(eager=True)
        if self._run_token is None:
            # namespace every materialization under (applicationId, a
            # per-app monotonic counter): two jobs sharing checkpoint_dir
            # — or a re-run while a prior run's DataFrames are still
            # being read — can no longer clobber each other's files
            # (the counter alone restarted at 0 per invocation)
            sc = df.sparkSession.sparkContext
            seq = sc.getLocalProperty("rca.materializer.seq")
            nxt = int(seq) + 1 if seq else 0
            sc.setLocalProperty("rca.materializer.seq", str(nxt))
            self._run_token = f"{sc.applicationId}/mat_{nxt:04d}"
        path = f"{self.dir}/{self._run_token}/{name}_{self._n:04d}.parquet"
        self._n += 1
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)


def exact_duplicates(docs: DataFrame,
                     prefix_len: int | None = None) -> DataFrame:
    """Exact-duplicate groups by content digest.

    Returns (content_hash, dup_count, canonical_id) for groups with >1
    member; ``canonical_id`` is the min id (keep-first policy).
    ``prefix_len`` hashes only a prefix (cheap fuzzy-exact mode).
    """
    key = F.col("text") if prefix_len is None \
        else F.substring(F.col("text"), 1, prefix_len)
    return (
        docs.select(F.md5(key.cast("string")).alias("content_hash"),
                    F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.min("doc_id").alias("canonical_id"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_paragraphs(docs: DataFrame) -> DataFrame:
    """Corpus-global EXACT paragraph dedup, keep-first (the
    MassiveText / RefinedWeb exact line-dedup stage, public
    methodology): every distinct paragraph survives only at its FIRST
    occurrence in (id, pos) order — later occurrences, whether in
    other documents or later in the same one, are dropped — and each
    document reassembles from its surviving paragraphs in original
    order.  Differs from ``boilerplate.remove_frequent_lines`` (the
    C4/CCNet heuristic): that drops a frequent line from EVERY
    document; this keeps exactly one copy corpus-wide.

    Returns (id, clean_text, n_kept, n_dropped), one row per document
    that has at least one non-empty paragraph (``clean_text = ''``
    when every paragraph was seen earlier).

    Scale shape: winners = ``groupBy(md5(para)).min(struct(id, pos))``
    — map-side partial agg, so a paragraph duplicated 10^9 times never
    funnels its occurrences into one task (the row_number-over-hash
    formulation would, which is why the SQL twin's window form stays
    oracle-only); the winner table is one SLIM row per distinct
    paragraph and joins back on the same hash exchange; one
    groupBy(id) reassembles, order carried by the exploded pos, never
    partition order.

    DuckDB twin: ``row_number() OVER (PARTITION BY md5(para) ORDER BY
    id, pos) = 1`` as the keep flag, ``string_agg(para ORDER BY pos)
    FILTER (WHERE keep)`` to reassemble.
    """
    paras = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "para"),
    ).filter(F.col("para") != "").withColumn("h", F.md5("para"))
    winners = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("_w"))
    flagged = paras.join(winners, "h").withColumn(
        "_keep", (F.col("doc_id") == F.col("_w.doc_id"))
        & (F.col("pos") == F.col("_w.pos")))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.when(F.col("_keep"),
                                           F.struct("pos", "para")))),
        lambda s: s["para"])
    return flagged.groupBy("doc_id").agg(
        F.array_join(ordered, "\n").alias("clean_text"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-document MinHash signature: DEFAULT_MINHASH_SEEDS bigint
    columns ``sig_0 .. sig_{n-1}`` over the distinct word-3-gram shingle
    set (Broder 1997).  One md5 per shingle total — per-seed values are
    integer permutations computed in a single fold
    (functions/hashing.py)."""
    arr = H.minhash_int_array(T.shingle_set(F.col("text"), 3),
                              H.MINHASH_SEEDS[:DEFAULT_MINHASH_SEEDS])
    t = docs.select(F.col("doc_id"), arr.alias("sig_arr"))
    return t.select(
        F.col("doc_id"),
        *[F.element_at(F.col("sig_arr"), s + 1).alias(f"sig_{s}")
          for s in range(DEFAULT_MINHASH_SEEDS)],
    )


def minhash_band_keys(docs: DataFrame, bands: int = DEFAULT_BANDS,
                      keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, [keep_cols...], band, band_key) — one row per band of the
    DEFAULT_MINHASH_SEEDS-value signature over 3-token shingles; equal
    band_key => LSH candidate pair.  ``keep_cols`` pass through
    untouched (e.g. the event-time column a streaming caller needs for
    its watermark).

    Single-pass: the band-key array is produced by the signature fold's
    ``finish`` lambda (functions/hashing.minhash_band_key_array), so the
    ``posexplode`` generator input is ONE expression and the expensive
    md5-per-shingle fold runs exactly once per document.  (Building the
    keys from separately-projected sig columns re-evaluates the fold
    under ``Generate``, which does no subexpression elimination —
    measured ~8x slower at sf0.1.)"""
    if DEFAULT_MINHASH_SEEDS % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={DEFAULT_MINHASH_SEEDS} "
            f"exactly — a remainder would silently drop trailing signature "
            f"values and weaken the requested S-curve")
    keys = H.minhash_band_key_array(
        T.shingle_set(F.col("text"), 3), bands,
        H.MINHASH_SEEDS[:DEFAULT_MINHASH_SEEDS])
    return docs.select(
        F.col("doc_id"), *[F.col(c) for c in keep_cols],
        F.posexplode(keys).alias("band", "band_key")
    )


def minhash_candidate_pairs(docs: DataFrame,
                            checkpoint_dir: str | None = None) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) from band-key
    collisions. The join shuffles on band_key only; AQE handles any
    hot bucket (e.g. empty-document collisions).

    The band-key table is persisted before the self-join so the
    md5-per-shingle signature computation runs once, not once per join
    side — at cluster scale this materialization is a signatures table
    written once and joined many times.  Pass ``checkpoint_dir`` (a
    durable path on a cluster) to pin the pair table on storage instead
    of executor blocks — see :class:`_Materializer`."""
    mat = _Materializer(checkpoint_dir)
    keys = minhash_band_keys(docs).persist()
    try:
        a = keys.select(F.col("band"), F.col("band_key"),
                        F.col("doc_id").alias("id_a"))
        b = keys.select(F.col("band"), F.col("band_key"),
                        F.col("doc_id").alias("id_b"))
        pairs = (
            a.join(b, ["band", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # materialize while the signature table is pinned, then release
        pairs = mat(pairs, "minhash_pairs")
    finally:
        keys.unpersist()
    return pairs


def incremental_candidate_pairs(new_docs: DataFrame,
                                index_keys: DataFrame) -> DataFrame:
    """Near-dup candidates of an INCOMING batch against an already-
    indexed corpus — the steady-state form of
    :func:`minhash_candidate_pairs` for a pipeline that ingests
    continuously: the corpus band-key table (built once by
    :func:`minhash_band_keys` and persisted — at scale, a parquet table
    bucketed by ``band_key``) is never recomputed; each batch pays
    md5-shingling for its OWN documents only and one equi-join on
    (band, band_key).

    ``index_keys`` must have columns (``doc_id``, band, band_key) —
    exactly :func:`minhash_band_keys` output, live or read back from
    storage.  Returns distinct (new_id, indexed_id) candidate pairs; a
    new doc also present in the index matches itself, so callers
    ingesting overlapping snapshots should filter ``new_id !=
    indexed_id`` upstream or treat self-pairs as "already ingested".

    Scale: batch-side cost O(batch), never O(corpus); the join shuffles
    the small batch side against the stored index (bucketing the stored
    table on band_key prepays even that — plans/bucketing.py), and AQE
    splits any hot bucket.
    """
    new_keys = minhash_band_keys(new_docs)
    nk = new_keys.select(F.col("band"), F.col("band_key"),
                         F.col("doc_id").alias("new_id"))
    idx = index_keys.select(F.col("band"), F.col("band_key"),
                            F.col("doc_id").alias("indexed_id"))
    return (nk.join(idx, ["band", "band_key"])
            .select("new_id", "indexed_id")
            .distinct())


def jaccard_pairs(docs: DataFrame, block_keys: list[str] | None = None,
                  threshold: float = 0.8,
                  allow_quadratic: bool = False) -> DataFrame:
    """Token-set Jaccard similarity join within blocking buckets.

    (id_a, id_b, jaccard) for pairs above ``threshold``. ``block_keys``
    are equality blocking columns (the scalable path — without them
    this is an O(N^2) cross join, which only ever belongs on a small
    sample, so it must be opted into EXPLICITLY with
    ``allow_quadratic=True``; the loud guard matches the SimHash
    lane-cap / max_hamming convention — silent quadratic plans are how
    a 100 TB job dies three hours in).
    Jaccard = |A ∩ B| / |A ∪ B| over distinct word-3-gram shingles.
    """
    if not block_keys and not allow_quadratic:
        raise ValueError(
            "jaccard_pairs without block_keys is an O(N^2) cross join; "
            "pass block_keys (the scalable path) or opt in explicitly "
            "with allow_quadratic=True on a small sample")
    toks = T.shingle_set(F.col("text"), 3)
    base_cols = [F.col("doc_id"), toks.alias("tok_set")]
    base_cols += [F.col(k) for k in (block_keys or [])]
    t = docs.select(*base_cols)
    a = t.select([F.col("doc_id").alias("id_a"),
                  F.col("tok_set").alias("tok_a")]
                 + [F.col(k) for k in (block_keys or [])])
    b = t.select([F.col("doc_id").alias("id_b"),
                  F.col("tok_set").alias("tok_b")]
                 + [F.col(k) for k in (block_keys or [])])
    joined = a.join(b, block_keys) if block_keys else a.crossJoin(b)
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    union = F.size(F.array_union(F.col("tok_a"), F.col("tok_b")))
    jac = inter.cast("double") / union.cast("double")
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def deduplicate_corpus(docs: DataFrame, jaccard_threshold: float = 0.8,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """End-to-end near-dedup with keep-first policy: a document is
    dropped iff an LSH candidate pair links it to a LOWER-id document
    whose verified shingle Jaccard clears the threshold.

    Pipeline: MinHash band keys -> candidate pairs -> exact Jaccard
    verify on candidates only -> anti-join the losers. This is the
    standard greedy keep-first approximation (no transitive closure —
    the same policy as keep-min-per-cluster for pair-linked docs).

    Scale: the anti-join key is just the id column; the expensive
    verification runs only on band-collision pairs, never O(N^2).
    """
    verified = verified_near_pairs(docs, jaccard_threshold,
                                   checkpoint_dir=checkpoint_dir)
    losers = verified.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def minhash_estimate_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs scored both ways: the MinHash ESTIMATE of
    Jaccard (fraction of agreeing signature components — Broder 1997's
    unbiased estimator) next to the EXACT shingle-set Jaccard, both on
    the integer micro-lattice (floor division, bit-identical across
    engines).  This is the estimator-quality diagnostic a pipeline runs
    before trusting signature-only dedup decisions at scale: plot
    est vs exact for the S-curve of DEFAULT_BANDS bands over
    DEFAULT_MINHASH_SEEDS signature values.

    Returns (id_a, id_b, n_agree, est_micro, jaccard_micro), one row
    per banded candidate pair (id_a < id_b).

    Scale: candidates come from the banded self-join (never all-pairs);
    the exact side then joins the two shingle SETS for candidate rows
    only — the same "shuffle grams only for survivors" discipline as
    ``verified_near_pairs``.  The (shset, sig) table feeds BOTH sides
    of the pair join, so it is ``.persist()``-pinned for the lifetime
    of the returned plan — one md5 fold pass over the corpus instead of
    one per side (at cluster scale this is the signatures table written
    once and joined twice, cf. ``minhash_candidate_pairs``); pinned by
    the exactly-one-md5 plan test."""
    pairs = minhash_candidate_pairs(docs)
    sh = docs.select(F.col("doc_id"),
                     T.shingle_set(F.col("text"), 3).alias("shset"))
    side = sh.select(
        "doc_id", "shset",
        H.minhash_int_array(F.col("shset"),
                            H.MINHASH_SEEDS[:DEFAULT_MINHASH_SEEDS])
        .alias("sig")).persist()
    a = side.select(F.col("doc_id").alias("id_a"),
                    F.col("shset").alias("sh_a"), F.col("sig").alias("sig_a"))
    b = side.select(F.col("doc_id").alias("id_b"),
                    F.col("shset").alias("sh_b"), F.col("sig").alias("sig_b"))
    scored = (pairs.join(a, "id_a").join(b, "id_b")
              .withColumn("n_agree", F.expr(
                  "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
                  " 0, (acc, v) -> acc + v)").cast("long"))
              .withColumn("_inter", F.expr(
                  "size(array_intersect(sh_a, sh_b))").cast("long")))
    return scored.select(
        "id_a", "id_b", "n_agree",
        F.expr(f"(n_agree * 1000000) div {DEFAULT_MINHASH_SEEDS}").cast("long")
        .alias("est_micro"),
        F.expr("(_inter * 1000000)"
               " div (size(sh_a) + size(sh_b) - _inter)").cast("long")
        .alias("jaccard_micro"))


def verified_near_pairs(docs: DataFrame, jaccard_threshold: float = 0.8,
                        checkpoint_dir: str | None = None) -> DataFrame:
    """LSH candidate pairs whose exact shingle Jaccard clears the
    threshold — (id_a, id_b) with id_a < id_b.  Shared by the greedy and
    connected-components dedup policies."""
    cand = minhash_candidate_pairs(docs, checkpoint_dir=checkpoint_dir)
    toks = T.shingle_set(F.col("text"), 3)
    t = docs.select(F.col("doc_id"), toks.alias("tok_set"))
    a = t.select(F.col("doc_id").alias("id_a"),
                 F.col("tok_set").alias("tok_a"))
    b = t.select(F.col("doc_id").alias("id_b"),
                 F.col("tok_set").alias("tok_b"))
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    union = F.size(F.array_union(F.col("tok_a"), F.col("tok_b")))
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (cand.join(a, "id_a").join(b, "id_b")
            .filter(jac >= jaccard_threshold)
            .select("id_a", "id_b"))


def deduplicate_corpus_cc(docs: DataFrame, jaccard_threshold: float = 0.8,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Connected-components dedup: keep exactly the MINIMUM id of every
    near-dup component (transitive closure of verified pairs).

    Differs from the greedy policy of :func:`deduplicate_corpus` when a
    document links two otherwise-dissimilar lower-id documents: greedy
    keeps both low ids AND judges each pair independently; CC collapses
    the whole component to one survivor.

    Algorithm: Pregel-style iterative min-label propagation over the
    verified-pair edge list (no graphframes dependency) — per round, every
    node takes the min of its own label and its neighbors' labels; stop
    when no label changed (converges in O(component diameter) rounds,
    which for near-dup clusters is tiny).  Each round is one shuffle on
    the node id; lineage is cut per round via :class:`_Materializer` —
    default ``localCheckpoint`` (executor blocks; fine locally), or
    real storage under ``checkpoint_dir`` so a lost executor cannot
    kill a 100 TB dedup mid-loop and each round's label table survives
    for inspection/resume.
    """
    labels = _cc_labels(docs, jaccard_threshold, checkpoint_dir)
    keepers = labels.filter(F.col("label") == F.col("node")) \
                    .select(F.col("node").alias("doc_id"))
    return docs.join(keepers, "doc_id", "left_semi")


def _cc_labels(docs: DataFrame, jaccard_threshold: float,
               checkpoint_dir: str | None) -> DataFrame:
    """(node, label) — every doc id labelled with the minimum id of its
    near-dup connected component (the label loop shared by the keep-min
    and keep-best CC policies).  The loop itself is the generic
    ``linkgraph.connected_components`` min-label propagation; this
    wrapper only supplies the near-dup pair edges."""
    from .linkgraph import connected_components  # local: linkgraph imports us

    pairs = verified_near_pairs(docs, jaccard_threshold,
                                checkpoint_dir=checkpoint_dir)
    return connected_components(
        docs.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="node", checkpoint_dir=checkpoint_dir)


def cc_cluster_sizes(docs: DataFrame,
                     checkpoint_dir: str | None = None) -> DataFrame:
    """``(cluster_size, n_clusters, n_docs)`` — the duplicate-cluster
    size histogram of the near-dup connected components (singletons
    included as size 1).

    The standard corpus-curation diagnostic: a heavy tail here means
    boilerplate/mirror families the threshold is merging (FineWeb and
    Dolma both report exactly this table when tuning dedup).  Cost on
    top of the CC label loop is two tiny aggregates — sizes per label
    (shuffle on the label key, map-side combined), then the histogram
    over the (≤ distinct-size) size table."""
    labels = _cc_labels(docs, 0.8, checkpoint_dir)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("cluster_size").cast("long").alias("n_docs")))


def deduplicate_corpus_cc_best(docs: DataFrame, score_col: str,
                               jaccard_threshold: float = 0.8,
                               checkpoint_dir: str | None = None
                               ) -> DataFrame:
    """Quality-priority CC dedup: within every near-dup component keep
    the HIGHEST-``score_col`` document, ties broken by lowest id —
    instead of :func:`deduplicate_corpus_cc`'s lowest-id-wins.  This is
    the policy real curation uses: when a page is mirrored, keep the
    longest / cleanest / highest-quality copy, not the one that
    happened to get the smallest id.

    Same label-propagation loop, then one rank window per component:
    ``row_number() over (partition by label order by score desc, id
    asc) = 1`` — exactly-one survivor per component, deterministic
    under any partitioning, and TYPE-GENERIC in the id (string doc ids
    rank lexicographically; the earlier ``max(struct(score, -id))``
    argmax silently required a numeric id).  Scale: adds a single
    (label) shuffle over (node, score, label) triples on top of the CC
    loop; the window partition is one near-dup component, which is
    small by construction (a component spanning a corpus slice means
    the threshold, not the plan, is wrong).
    """
    from pyspark.sql import Window

    labels = _cc_labels(docs, jaccard_threshold, checkpoint_dir)
    scored = labels.join(
        docs.select(F.col("doc_id").alias("node"),
                    F.col(score_col).alias("_score")), "node")
    w = Window.partitionBy("label").orderBy(F.col("_score").desc(),
                                            F.col("node").asc())
    winners = (scored.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .select(F.col("node").alias("doc_id")))
    return docs.join(winners, "doc_id", "left_semi")


def simhash_signatures(docs: DataFrame,
                       lane_cap: int = SIMHASH_LANE_CAP) -> DataFrame:
    """Per-document 64-bit SimHash signature (Charikar 2002): for each bit
    j, sum +1/-1 votes of hash64(shingle) bit j over the distinct shingle
    set; bit j of the signature is 1 iff the sum is positive.

    Returns (id, sig_hi, sig_lo) — the signature split into two 32-bit
    longs so neither engine ever touches unsigned-64 arithmetic (the md5
    hex prefix splits the same way: chars 1-8 -> lo, 9-16 -> hi).

    Implementation: ONE md5 per shingle (transform to a (hi, lo) struct
    array), explode the already-hashed pairs, then 64 conditional
    sums under groupBy(doc) — the sums partial-aggregate map-side so the
    exchange carries one row of 64 ints per document.  64 bits (vs the
    earlier 16) is the scale requirement: the near-pair step blocks on
    16-bit bands => 2^16 buckets per band instead of 2^8 total, so
    per-block self-joins stay tiny at 10^9 docs.
    """
    if not 0 < lane_cap <= SIMHASH_LANE_CAP:
        raise ValueError(f"lane_cap must be in (0, {SIMHASH_LANE_CAP}]; "
                         f"got {lane_cap}")
    # The shingle set is projected ONCE into its own layer: everything
    # downstream (md5 transform, size, lane-cap guard) references the
    # `toks` COLUMN, never the expression.  CollapseProject refuses to
    # inline a non-cheap alias referenced more than once, so the layer
    # is a real barrier — without it, `size(transform(toks, md5...))`
    # in the guard re-ran the full md5 transform per reference (3x per
    # row; measured ~8x wall on sf0.1).
    tok_df = docs.select(F.col("doc_id"),
                         T.shingle_set(F.col("text"), 3).alias("toks"))
    # ONE md5 per shingle: the inner transform materializes the hex array
    # per row, the outer slices it twice — HOF lambdas get no CSE, so
    # inlining md5(t) in both conv slices would hash every shingle twice
    # (r3 plan pinned "exactly 2 md5"; this halves the dominant cost and
    # the pin now reads "exactly 1", tests/test_plan_hygiene.py).
    hashed = F.transform(
        F.transform(F.col("toks"), F.md5),
        lambda h: F.struct(
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("lo"),
        ))
    # loud runtime guard: a per-bit count can reach n, and the SWAR
    # lanes hold 16 bits — raise per-row rather than overflow silently.
    # transform preserves length, so size(toks) == size(hashed) and the
    # guard never touches the md5 transform.
    n_toks = F.size(F.col("toks"))
    n_guarded = F.when(
        n_toks > lane_cap,
        F.raise_error(F.concat(
            F.lit("simhash_signatures: document "),
            F.col("doc_id").cast("string"),
            F.lit(" has "), n_toks.cast("string"),
            F.lit(f" distinct shingles > lane cap {lane_cap}; "
                  "chunk oversized documents upstream "
                  "(operators/chunking.py) before SimHash"))).cast("int"),
    ).otherwise(n_toks)
    base = tok_df.select(F.col("doc_id"), hashed.alias("hv"),
                         n_guarded.alias("n"))
    # Fully NARROW per-row form — no explode, no groupBy, zero shuffle —
    # via SWAR lane-spread popcounting: reassemble the 64-bit hash
    # (hi<<32 | lo; sign bit overflow is the intended bit pattern) and,
    # for shift k in 0..15, fold SUM over shingles of
    # ``(h >>> k) & 0x0001000100010001``.  The mask isolates bit k of
    # each 16-bit quadrant into its own 16-bit accumulator lane, so one
    # long addition advances FOUR bit-counters carry-free — 16 scalar
    # aggregate folds yield all 64 per-bit counts.  This replaced a
    # 64 x filter()+size() formulation that allocated a filtered array
    # per bit per row (higher-order functions are not whole-stage
    # codegen'd): 4x fewer array traversals, zero allocations, ~4x
    # measured.  Lane counters hold 65535: documents with more distinct
    # shingles than that (~400 KB of text) trip the raise_error guard on
    # ``n`` above and must be chunked upstream (operators/chunking.py) —
    # the standard cap for shingle-based sketches, enforced loudly.
    lane_mask = 0x0001000100010001

    def _lane_sum(k: int) -> F.Column:
        return F.aggregate(
            F.col("hv"), F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftrightunsigned(
                F.shiftleft(h["hi"], 32).bitwiseOR(h["lo"]), k)
            .bitwiseAND(F.lit(lane_mask)))

    lanes = base.select(
        F.col("doc_id"), F.col("n"),
        *[_lane_sum(k).alias(f"s{k}") for k in range(16)])

    def _cnt(j: int) -> F.Column:
        # bit j lives in 16-bit lane j//16 of the shift-(j%16) sum
        return F.shiftrightunsigned(F.col(f"s{j % 16}"), 16 * (j // 16)) \
                .bitwiseAND(F.lit(0xFFFF))

    sig_lo = F.lit(0).cast("long")
    sig_hi = F.lit(0).cast("long")
    for j in range(32):
        sig_lo = sig_lo + F.when(_cnt(j) * 2 > F.col("n"),
                                 F.lit(2 ** j)).otherwise(F.lit(0))
    for j in range(32, 64):
        sig_hi = sig_hi + F.when(_cnt(j) * 2 > F.col("n"),
                                 F.lit(2 ** (j - 32))).otherwise(F.lit(0))
    return lanes.select(F.col("doc_id"), sig_hi.alias("sig_hi"),
                        sig_lo.alias("sig_lo"))


def embedding_near_pairs(embs: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.35,
                         n_bits: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-LSH-blocked: only
    vectors sharing an LSH bucket (functions/vectors.sign_bucket) are
    compared, then the exact cosine gates the pair — the ANN analogue
    of MinHash banding, turning O(N^2) into per-bucket joins.

    Returns (id_a, id_b, cosine_sim) for same-bucket pairs with
    similarity >= threshold (rounded to 6 dp, ids ordered)."""
    from ..functions import vectors as V

    t = embs.select(F.col(id_col), V.as_double(F.col(vec_col)).alias("v"),
                    V.sign_bucket(F.col(vec_col), n_bits).alias("bucket"))
    a = t.select(F.col("bucket"), F.col(id_col).alias("id_a"),
                 F.col("v").alias("va"))
    b = t.select(F.col("bucket"), F.col(id_col).alias("id_b"),
                 F.col("v").alias("vb"))
    sim = F.round(V.cosine(F.col("va"), F.col("vb")), 6)
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def simhash_near_pairs(docs: DataFrame,
                       max_hamming: int = SIMHASH_BANDS - 1) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: pigeonhole banding over SIMHASH_BANDS=4 disjoint 16-bit
    bands of the 64-bit signature.  With k bands, any pair whose Hamming
    distance is <= k-1 must agree EXACTLY on at least one band (k-1 bit
    flips cannot touch all k bands), so blocking on (band, band_value)
    loses no pair within the advertised contract — this requires
    ``max_hamming < SIMHASH_BANDS`` and the guard below fails loudly
    rather than silently under-recalling.  Each band has 2^16 block
    values; the per-band self-join shuffles on the 16-bit block key and
    AQE splits any hot block.  Exact distance is then verified via
    bit_count on the XOR of both halves.
    """
    sigs = simhash_signatures(docs)
    return simhash_pairs_from_signatures(sigs, max_hamming=max_hamming)


def simhash_pairs_from_signatures(sigs: DataFrame, id_col: str = "doc_id",
                                  max_hamming: int = SIMHASH_BANDS - 1,
                                  checkpoint_dir: str | None = None
                                  ) -> DataFrame:
    """Banding + verify over a (id, sig_hi, sig_lo) signature table —
    split out so the recall guarantee is testable on handcrafted
    signatures and so a persisted signatures table can be re-joined
    without recomputing shingle hashes.  ``checkpoint_dir`` pins the
    pair table on durable storage instead of executor blocks."""
    mat = _Materializer(checkpoint_dir)
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"pigeonhole banding with {SIMHASH_BANDS} bands only guarantees "
            f"candidates for hamming <= {SIMHASH_BANDS - 1}; "
            f"got max_hamming={max_hamming}")
    mask = F.lit(0xFFFF)
    band_vals = F.array(
        F.col("sig_lo").bitwiseAND(mask),
        F.shiftright(F.col("sig_lo"), 16).bitwiseAND(mask),
        F.col("sig_hi").bitwiseAND(mask),
        F.shiftright(F.col("sig_hi"), 16).bitwiseAND(mask),
    )
    # pin the banded table so the signature expression (md5 per shingle)
    # is computed once, not once per join side — on a cluster this is the
    # persisted signatures table joined many times
    t = sigs.select(F.col(id_col), F.col("sig_hi"), F.col("sig_lo"),
                    F.posexplode(band_vals).alias("band", "band_val")) \
            .persist()
    try:
        a = t.select("band", "band_val", F.col(id_col).alias("id_a"),
                     F.col("sig_hi").alias("hi_a"), F.col("sig_lo").alias("lo_a"))
        b = t.select("band", "band_val", F.col(id_col).alias("id_b"),
                     F.col("sig_hi").alias("hi_b"), F.col("sig_lo").alias("lo_b"))
        pairs = (a.join(b, ["band", "band_val"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
                 .distinct())
        ham = (F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
               + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))))
        out = mat(pairs.select("id_a", "id_b", ham.alias("hamming"))
                  .filter(F.col("hamming") <= max_hamming), "simhash_pairs")
    finally:
        t.unpersist()
    return out


def containment_pairs(docs: DataFrame, df_cap: int = 16,
                      min_containment_micro: int = 500_000) -> DataFrame:
    """Asymmetric-containment candidate pairs — quote/subset detection
    (Broder 1997's containment coefficient |A∩B| / |A|): a short
    document fully embedded in a long one scores ~1.0 even though its
    symmetric Jaccard is tiny, which is exactly the case MinHash-LSH
    near-dedup is blind to.

    Shape: one distinct-shingle-hash projection per document (md5
    evaluated once — the array is projected into a column layer and
    everything downstream derives from the column), explode, group by
    shingle hash with the doc list collected, pairs generated INSIDE
    each posting array, then a count per ordered pair.  Two exchanges
    total (shingle hash, then pair key); the shingle text itself never
    shuffles — only 16-hex-char hashes.

    ``df_cap`` bounds the per-shingle posting list: shingles shared by
    more than ``df_cap`` documents are corpus boilerplate and are
    DROPPED from the numerator (documented lower-bound semantics — the
    same prefix-filtering compromise as jaccard/minhash blocking), so
    pair fan-out per shingle is <= df_cap^2 and the operator never goes
    quadratic in corpus size.  Denominators are each document's FULL
    distinct-shingle count.

    Returns (id_a, id_b, n_shared, cont_a_micro, cont_b_micro) with
    id_a < id_b, cont_x = floor(1e6 * n_shared / |shingles(x)|), kept
    when either direction reaches ``min_containment_micro``.
    """
    if df_cap < 2:
        raise ValueError("df_cap must be >= 2 (a pair needs two docs)")
    from pyspark.sql import Window

    hs = F.transform(T.shingle_set(F.col("text"), 5),
                     lambda s: F.substring(F.md5(s), 1, 16))
    layer = docs.select(F.col("doc_id"), hs.alias("_hs"))
    sized = layer.select("doc_id", "_hs", F.size("_hs").alias("_n_sh"))
    exploded = (sized.select("doc_id", "_n_sh",
                             F.explode_outer("_hs").alias("_h"))
                .filter(F.col("_h").isNotNull()))
    # df-cap BEFORE any posting list materializes: the per-shingle doc
    # frequency is a whole-partition window count — WindowExec buffers
    # a group in a SPILLABLE row array, so a boilerplate shingle shared
    # by 10^9 documents costs disk, never one task's heap (the previous
    # collect_list-then-filter form built the full posting array in
    # memory before the cap could drop it).  The capped groupBy then
    # runs on the SAME (_h) partitioning — no extra exchange.
    dfw = F.count(F.lit(1)).over(Window.partitionBy("_h"))
    capped = (exploded.withColumn("_df", dfw)
              .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap)))
    posts = (capped.groupBy("_h")
             .agg(F.collect_list(F.struct(F.col("doc_id").alias("i"),
                                          F.col("_n_sh").alias("n"))).alias("_ds")))
    # project the sorted posting list ONCE (struct sort: id first, so
    # generated pairs come out id_a < id_b); deriving from the column
    # keeps array_sort single-evaluation under the element_at fan-out
    sorted_posts = posts.select(F.array_sort("_ds").alias("_ds"))
    ds = F.col("_ds")
    n = F.size(ds)
    pair_arrays = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.sequence(i + F.lit(1), n),
            lambda j: F.struct(F.element_at(ds, i).alias("a"),
                               F.element_at(ds, j).alias("b")))))
    pairs = (sorted_posts.select(F.explode(pair_arrays).alias("p"))
             .select(F.col("p.a.i").alias("id_a"), F.col("p.a.n").alias("n_a"),
                     F.col("p.b.i").alias("id_b"), F.col("p.b.n").alias("n_b")))
    agg = (pairs.groupBy("id_a", "id_b", "n_a", "n_b")
           .agg(F.count(F.lit(1)).alias("n_shared")))
    cont_a = F.floor(F.col("n_shared") * 1_000_000 / F.col("n_a"))
    cont_b = F.floor(F.col("n_shared") * 1_000_000 / F.col("n_b"))
    return (agg.select("id_a", "id_b", "n_shared",
                       cont_a.alias("cont_a_micro"),
                       cont_b.alias("cont_b_micro"))
            .filter(F.greatest(F.col("cont_a_micro"), F.col("cont_b_micro"))
                    >= min_containment_micro))


def winnow_overlap_pairs(docs: DataFrame, df_cap: int = 16,
                         min_shared: int = 2) -> DataFrame:
    """Winnow-pruned overlap candidate pairs — the MOSS corpus
    formulation (Schleimer et al. SIGMOD'03 §5): posting lists are
    built over the winnowing-SELECTED word-3-gram hashes only (windows
    of w=4, ``textanalysis.winnow_selection_frame``, expected density
    2/(w+1)), so the inverted index is ~(w+1)/2 smaller than
    full-shingle containment.  The selection guarantee — any shared run
    of at least w + k - 1 = 6 words lands at least one shared selected
    hash in both documents — makes recall exact for such overlaps only at
    ``min_shared=1``; the default of 2 trades that edge (a pair whose
    only overlap is one minimal run) for noise suppression.

    Shape mirrors :func:`containment_pairs`: selected-hash set derived
    in-array from ONE md5-hashed gram layer (zero pre-aggregation
    shuffle), explode, posting lists per hash df-capped at ``df_cap``
    (hashes shared by more documents are boilerplate, dropped —
    documented lower-bound numerator), pairs generated INSIDE each
    posting array, one count per ordered pair.  Two exchanges total;
    gram text never shuffles.  Returns ``(id_a, id_b, n_shared)`` with
    ``id_a < id_b`` and ``n_shared >= min_shared``.
    """
    if df_cap < 2:
        raise ValueError("df_cap must be >= 2 (a pair needs two docs)")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1; got {min_shared}")
    from . import textanalysis as TA
    frame = TA.winnow_selection_frame(TA.winnow_hash_frame(docs), 4)
    hs = F.array_distinct(F.transform(F.col("_sel"),
                                      lambda s: s["gram_hash"]))
    sel = frame.select("doc_id", hs.alias("_selh"))
    exploded = (sel.select("doc_id", F.explode_outer("_selh").alias("_gh"))
                .filter(F.col("_gh").isNotNull()))
    # df-cap via a spillable whole-partition window count BEFORE the
    # posting list materializes (same hazard + fix as
    # containment_pairs: a boilerplate hash must never build an
    # unbounded collect_list in one task); the capped groupBy reuses
    # the (_gh) partitioning — no extra exchange
    from pyspark.sql import Window

    dfw = F.count(F.lit(1)).over(Window.partitionBy("_gh"))
    capped = (exploded.withColumn("_df", dfw)
              .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap)))
    posts = (capped.groupBy("_gh")
             .agg(F.collect_list(F.col("doc_id")).alias("_ids")))
    sorted_posts = posts.select(F.array_sort("_ids").alias("_ids"))
    ids = F.col("_ids")
    n = F.size(ids)
    pair_arrays = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.sequence(i + F.lit(1), n),
            lambda j: F.struct(F.element_at(ids, i).alias("a"),
                               F.element_at(ids, j).alias("b")))))
    pairs = (sorted_posts.select(F.explode(pair_arrays).alias("p"))
             .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def deduplicate_corpus_winnow(docs: DataFrame,
                              checkpoint_dir: str | None = None
                              ) -> DataFrame:
    """Corpus dedup over winnow-overlap components: keep exactly the
    MINIMUM id of every connected component of
    :func:`winnow_overlap_pairs` candidates — the MOSS pair mining
    composed into an actual dedup policy (the winnow analogue of
    :func:`deduplicate_corpus_cc`, sharing the same min-label
    propagation loop and ``checkpoint_dir`` durability semantics).
    Catches the overlap shape MinHash-Jaccard dedup is weakest on:
    documents stitched from long shared runs (quotes, templated
    sections) whose symmetric Jaccard stays low.
    """
    from .linkgraph import connected_components  # local: linkgraph imports us

    pairs = winnow_overlap_pairs(docs)
    labels = connected_components(
        docs.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst")),
        id_col="node", checkpoint_dir=checkpoint_dir)
    keepers = labels.filter(F.col("label") == F.col("node")) \
                    .select(F.col("node").alias("doc_id"))
    return docs.join(keepers, "doc_id", "left_semi")
