"""Similarity search over embedding columns (array<float>).

Every operator is a pure DataFrame expression (functions/vectors.py),
no UDFs, oracle-checkable against DuckDB.  The families:

  * exact baselines: cosine top-k (``cosine_topk``) and integer-lattice
    L2 top-k (``lattice_l2_topk``);
  * sign-LSH buckets (``bucketed_topk``, ``bucketed_topk_multiprobe``);
  * IVF: a k-means coarse quantizer on the integer lattice
    (``kmeans_centroids``), cell assignment and probing (``ivf_topk``,
    ``knn_join``, ``cluster_profile``, ``semantic_dedup``);
  * PQ: per-subspace codebooks ranked by ADC (``pq_topk``), and IVFADC,
    their composition with IVF (``ivfadc_topk``);
  * SQ8: per-dimension int8 codes (``sq8_topk``) and IVF-SQ
    (``ivfsq_topk``);
  * JL: a content-addressed sign projection to 16 dims (``jl_topk``);
  * ``recall_at_k``: the recall row that states the error of an
    approximate top-k against its exact baseline.

Each building block is defined once and the operators compose it:
``_cell_d2`` (lattice rows x broadcast centroids, exact squared
distance), ``_nearest`` (argmin cell), ``_probes`` (the cells nearest a
query), ``_cosine_rank`` (the cosine top-k tail), ``_pq_lut`` (the ADC
lookup table), ``_sq8_coded``/``_sq8_rank`` (in-plan int8 codes and
the asymmetric SQ8 distance), and the argument guards ``_pq_split``,
``_check_nprobe`` and ``_check_together``.

Scale design (100 TB / 10^12 vectors):
  * the query side is always broadcast (one row or a small batch);
    the corpus scan stays narrow — no shuffle at all for brute force,
    and `TakeOrderedAndProject` keeps top-k memory O(k) per task.
  * bucketed ANN prunes the scan with a partition-pruning-friendly
    bucket column (write the table partitioned/bucketed by it), so a
    query touches 1/2^bits of the files: IVF-style coarse quantization
    with deterministic axis-sign centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def _query_vec(embs: DataFrame, query_id: int, id_col: str) -> DataFrame:
    return embs.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"),
        V.as_double(F.col("embedding")).alias("q_vec")
    )


def _cosine_sim() -> F.Column:
    """``cosine_sim``: the 6-dp cosine between a row's ``embedding``
    and the broadcast query vector ``q_vec``."""
    return F.round(V.cosine(V.as_double(F.col("embedding")),
                            F.col("q_vec")), 6).alias("cosine_sim")


def _cosine_rank(cand: DataFrame, id_col: str, k: int,
                 *carry: str) -> DataFrame:
    """The exact tail of every cosine search: candidate rows carrying
    (id, embedding, query_id, q_vec) -> (id, *carry, cosine_sim), the
    query itself dropped, the first ``k`` by (cosine desc, id asc)."""
    return (cand.filter(F.col(id_col) != F.col("query_id"))
            .select(F.col(id_col), *carry, _cosine_sim())
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k))


def cosine_topk(embs: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id") -> DataFrame:
    """Exact top-k neighbors of ``query_id`` by cosine similarity.

    Deterministic: ties broken by ascending id; similarity rounded to
    6 dp. Returns (vec_id, cosine_sim) with the query itself excluded.
    """
    q = _query_vec(embs, query_id, id_col)
    return _cosine_rank(embs.crossJoin(F.broadcast(q)), id_col, k)


def bucket_histogram(embs: DataFrame, n_bits: int = 8) -> DataFrame:
    """(bucket, n_vecs) under the sign-LSH coarse quantizer — the
    balance diagnostic for the ANN index layout."""
    return (
        embs.select(V.sign_bucket(F.col("embedding"), n_bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def bucketed_topk_multiprobe(embs: DataFrame, query_id: int, k: int = 10,
                             n_bits: int = 8, nprobe: int = 4) -> DataFrame:
    """Multi-probe IVF top-k (Lv et al., VLDB'07 multi-probe LSH): probe
    the query's sign-LSH bucket PLUS the ``nprobe - 1`` buckets reached
    by flipping the hyperplane bits with the smallest margin
    (|query[j]| — the dims where the sign decision was least confident).
    Recovers most of the recall nprobe=1 loses while still scanning only
    nprobe/2^bits of the corpus.

    Deterministic: margin ties flip the lower dim first; similarity
    rounded to 6 dp, final ties by ascending id."""
    _check_nprobe(nprobe, 2 ** n_bits)
    with_bucket = embs.withColumn(
        "bucket", V.sign_bucket(F.col("embedding"), n_bits))
    margins = F.array_sort(F.array(*[
        F.struct(F.abs(F.element_at(F.col("embedding"), j + 1).cast("double"))
                 .alias("m"), F.lit(j).alias("j"))
        for j in range(n_bits)
    ]))
    flips = F.slice(margins, 1, nprobe - 1) if nprobe > 1 \
        else F.array().cast("array<struct<m:double,j:int>>")
    q = (
        with_bucket.filter(F.col("vec_id") == query_id)
        .select(F.col("vec_id").alias("query_id"),
                V.as_double(F.col("embedding")).alias("q_vec"),
                F.col("bucket").alias("q_bucket"),
                flips.alias("flips"))
        .select("query_id", "q_vec",
                F.concat(
                    F.array(F.col("q_bucket")),
                    F.transform(
                        "flips",
                        lambda f: F.col("q_bucket").bitwiseXOR(
                            F.pow(F.lit(2.0), f["j"]).cast("long"))),
                ).alias("probes"))
    )
    return _cosine_rank(
        with_bucket.join(F.broadcast(q),
                         F.array_contains(q["probes"], with_bucket["bucket"])),
        "vec_id", k)


#: fixed-point grid for k-means arithmetic: round(x * 1000) as bigint.
#: All Lloyd-iteration math (distances, centroid updates) is then EXACT
#: integer arithmetic in both engines — zero cross-engine float risk —
#: while final ranking still uses true double cosine on the raw floats.
#: (Quantized coarse clustering is standard ANN practice, cf. int8
#: product quantization; 3 decimal digits is far finer than any IVF
#: assignment boundary matters.)
KMEANS_SCALE = 1000


def sparse_cosine_pairs(docs: DataFrame, df_frac: float = 0.1) -> DataFrame:
    """All-pairs sparse tf-idf cosine over the corpus's word-BIGRAM
    vocabulary (Bayardo et al. WWW'07 "Scaling up all pairs similarity
    search", simplified): pairs of documents sharing at least one
    retained bigram, scored by the cosine of their tf-idf vectors.
    Bigram terms, not unigrams: a web corpus's unigram vocabulary is
    dominated by stop-words that pair everything with everything, while
    bigrams spread document frequency into the informative mid-band.

    Returns (id_a, id_b, dot, cosine) with id_a < id_b; ``dot`` is the
    EXACT integer inner product on the micro-lattice (idf quantized to
    round(ln(n_docs/df) * 1e6), weight = tf * idf_micro — same
    quantized-log determinism as ``textanalysis.unigram_logprob``) and
    ``cosine`` its 6-dp normalization (sums are exact bigints below
    2^53, so the final divide/sqrt/round reproduces bit-for-bit).

    Scale: the pair expansion is Σ over terms of C(df, 2) — unbounded
    on stop-terms — so terms appearing in more than ``df_frac`` of the
    corpus are dropped BEFORE the self-join (they carry ~zero idf
    weight anyway; the fraction tracks corpus growth where an absolute
    cap would not, and is the simplified stand-in for Bayardo's prefix
    filter).  df < 2 terms cannot pair and are also dropped.  The
    weight table feeds the norm aggregate and both self-join sides, so
    it is ``.persist()``-pinned for the lifetime of the returned plan
    (see CLAUDE.md on multi-consumer layers)."""
    if not 0.0 < df_frac <= 1.0:
        raise ValueError(f"df_frac must be in (0, 1]; got {df_frac}")
    from ..functions import text as T

    tf = (docs.select(F.col("doc_id").alias("doc"),
                      F.explode(T.bigrams(T.tokens(F.col("text"))))
                      .alias("term"))
          .groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (tf.join(dfreq.where(F.col("df") >= 2), "term")
         .crossJoin(F.broadcast(n_docs))
         .where(F.col("df") <= F.expr(f"cast(floor({df_frac!r} * "
                                      f"cast(n_docs as double)) as bigint)"))
         .select("doc", "term", F.expr(
             "cast(tf * round(ln(cast(n_docs as double) / cast(df as double))"
             " * 1000000) as bigint)").alias("w"))).persist()
    norm = w.groupBy("doc").agg(F.expr("sum(w * w)").cast("long").alias("n2"))
    a = w.select(F.col("doc").alias("id_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc").alias("id_b"), "term", F.col("w").alias("wb"))
    dot = (a.join(b, "term")
           .where(F.col("id_a") < F.col("id_b"))
           .groupBy("id_a", "id_b")
           .agg(F.expr("sum(wa * wb)").cast("long").alias("dot")))
    return (dot
            .join(norm.select(F.col("doc").alias("id_a"),
                              F.col("n2").alias("na2")), "id_a")
            .join(norm.select(F.col("doc").alias("id_b"),
                              F.col("n2").alias("nb2")), "id_b")
            .select("id_a", "id_b", "dot", F.expr(
                "round(cast(dot as double) / (sqrt(cast(na2 as double))"
                " * sqrt(cast(nb2 as double))), 6)").alias("cosine")))


def _lattice(embs: DataFrame) -> DataFrame:
    qv = F.transform(
        V.as_double(F.col("embedding")),
        lambda x: F.round(x * KMEANS_SCALE, 0).cast("long"))
    return embs.select(F.col("vec_id"), F.col("embedding"), qv.alias("qv"))


def _l2sq(a, b) -> F.Column:
    """Exact squared L2 between two bigint lattice vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _cell_d2(lat: DataFrame, cents: DataFrame, *carry) -> DataFrame:
    """(*carry, cid, d2): every lattice row against every broadcast
    centroid, ``d2`` the exact squared lattice distance."""
    return (lat.crossJoin(F.broadcast(cents))
            .select(*carry, F.col("cid"),
                    _l2sq(F.col("qv"), F.col("cv")).alias("d2")))


def _nearest(lat: DataFrame, cents: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, m, *carry): nearest-centroid assignment, ``m`` the
    struct-min (d2, cid) — exact integer distances, ties broken by
    ascending cid."""
    return (_cell_d2(lat, cents, "vec_id", *carry)
            .select("vec_id", *carry, F.struct("d2", "cid").alias("dc"))
            .groupBy("vec_id")
            .agg(F.min("dc").alias("m"),
                 *[F.first(c).alias(c) for c in carry]))


def _probes(embs: DataFrame, cents: DataFrame, query_id: int,
            nprobe: int) -> DataFrame:
    """(cid) of the ``nprobe`` cells nearest the query, ties to the
    ascending cid."""
    return (_cell_d2(_lattice(embs).filter(F.col("vec_id") == query_id), cents)
            .orderBy("d2", "cid").limit(nprobe).select("cid"))


def _check_nprobe(nprobe: int, n_cells: int) -> None:
    """A probe list names between 1 and ``n_cells`` cells."""
    if not 1 <= nprobe <= n_cells:
        raise ValueError(f"nprobe must be in [1, {n_cells}]; got {nprobe}")


def kmeans_centroids(embs: DataFrame, k: int = 4, iters: int = 2) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column —
    (cid, cv) with ``cv`` an ``array<bigint>`` lattice centroid.

    Trained coarse quantizer for IVF ANN (the codebook step brute-force
    sign-LSH buckets skip).  Deterministic by construction: seeds are
    the ``k`` embeddings with the smallest ids (cid = seed id), a fixed
    number of Lloyd iterations, argmin ties break on ascending cid, and
    centroid updates floor-divide on the integer lattice — every engine
    reproduces the exact same centroids bit-for-bit.

    Scale (10^12 vectors): each iteration is one broadcast crossJoin
    (k rows) + one groupBy(id) argmin + one (cid, dim) partial-agg
    shuffle whose cardinality is k x dims, independent of N.  Lazy
    DataFrame throughout — no driver-side collect; production would
    train on a sample and hold centroids in a table, which is exactly
    the shape this returns.
    """
    lat = _lattice(embs)
    cents = (lat.orderBy(F.col("vec_id")).limit(k)
             .select(F.col("vec_id").cast("long").alias("cid"),
                     F.col("qv").alias("cv")))
    for _ in range(iters):
        assigned = _nearest(lat, cents, "qv").select(
            F.col("vec_id"), F.col("m.cid").alias("cid"), F.col("qv"))
        per_dim = (assigned.select("cid", F.posexplode("qv").alias("dim", "v"))
                   .groupBy("cid", "dim")
                   .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                   .select("cid", "dim",
                           F.floor(F.col("s") / F.col("n")).cast("long")
                           .alias("cv_i")))
        cents = (per_dim.groupBy("cid")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("dim", "cv_i"))).alias("pairs"))
                 .select("cid",
                         F.transform("pairs", lambda p: p["cv_i"]).alias("cv")))
    return cents


def kmeans_centroids_sampled(embs: DataFrame, k: int = 4, iters: int = 2,
                             sample_rate: float = 0.5,
                             seed: int = 0) -> DataFrame:
    """The production codebook fit: Lloyd iterations over a DETERMINISTIC
    hash-sample of the corpus only (``sampling.hash_sample`` — md5-mod
    membership, identical rows at any parallelism / any engine), so per-
    iteration cost scales with ``sample_rate * N`` instead of N.  The
    full corpus is then touched exactly ONCE by the caller's assignment
    pass — the shape :func:`kmeans_centroids`'s own docstring promises
    for production.

    Codebook quality needs only a representative sample, not the corpus
    (Jégou et al., TPAMI'11 train IVF quantizers on a ~1% subset); the
    fit stays fully deterministic because the sample itself is a pure
    function of the ids.
    """
    from .sampling import hash_sample

    sample = hash_sample(embs, sample_rate, seed, id_col="vec_id")
    # loud guard (lane-cap / MAX_TABLES style): with a small corpus or a
    # low rate the seed `LIMIT k` would silently yield < k centroids
    # while ivf_topk_sampled still validates its 2 probes against the
    # REQUESTED n_centroids.  One count over the sample — the fit scans
    # it `iters` times anyway, so the check is proportionate, and it
    # fails before any Lloyd work is queued.
    n_sample = sample.count()
    if n_sample < k:
        raise ValueError(
            f"kmeans_centroids_sampled: hash sample holds {n_sample} "
            f"vectors < k={k} centroids; raise sample_rate (got "
            f"{sample_rate}) or lower k")
    return kmeans_centroids(sample, k, iters)


def _ivf_search(embs: DataFrame, cents: DataFrame, query_id: int, k: int,
                nprobe: int) -> DataFrame:
    """Shared IVF back half: one full-corpus nearest-centroid assignment,
    probe the ``nprobe`` cells nearest the query, exact cosine rank
    inside the probed cells only."""
    probes = _probes(embs, cents, query_id, nprobe)
    q = _query_vec(embs, query_id, "vec_id")
    return _cosine_rank(assign_centroids(embs, cents=cents)
                        .join(F.broadcast(probes), "cid")
                        .crossJoin(F.broadcast(q)), "vec_id", k, "cid")


def ivf_topk_sampled(embs: DataFrame, query_id: int, k: int = 10,
                     n_centroids: int = 4, iters: int = 2,
                     sample_rate: float = 0.5) -> DataFrame:
    """IVF ANN with the codebook trained on a hash-sample
    (:func:`kmeans_centroids_sampled`, seed 0): the full corpus is
    scanned once for assignment, never per Lloyd round; the 2 cells
    nearest the query are probed.  Same output contract as
    :func:`ivf_topk` — (vec_id, cid, cosine_sim), top-``k`` by
    (cosine desc, id), query excluded."""
    _check_nprobe(2, n_centroids)
    cents = kmeans_centroids_sampled(embs, n_centroids, iters, sample_rate)
    return _ivf_search(embs, cents, query_id, k, 2)


def ivf_topk(embs: DataFrame, query_id: int, k: int = 10,
             n_centroids: int = 4, nprobe: int = 2,
             cents: DataFrame | None = None) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: k-means codebook,
    assign every vector to its nearest centroid, probe the ``nprobe``
    centroids nearest the query, exact cosine rank inside the probed
    cells only.  (The IVF-flat design of Jégou et al., TPAMI'11 —
    trained centroids adapt to the data distribution, unlike the
    axis-aligned sign-LSH buckets of :func:`bucketed_topk`.)

    Returns (vec_id, cid, cosine_sim) — top-``k`` by (cosine desc, id),
    the query itself excluded.  At scale, write the corpus partitioned
    by ``cid``: each query then scans nprobe/k of the files.  Trains on
    the FULL corpus per Lloyd round — prefer :func:`ivf_topk_sampled`
    beyond toy sizes, or pass ``cents`` (the ``centroids`` artifact
    ``jobs/run_index.py`` persists, read back from parquet) to search a
    STORED codebook with no training in-plan at all.
    """
    _check_nprobe(nprobe, n_centroids)
    if cents is None:
        cents = kmeans_centroids(embs, n_centroids)
    return _ivf_search(embs, cents, query_id, k, nprobe)


def assign_centroids(embs: DataFrame, n_centroids: int = 4,
                     cents: DataFrame | None = None) -> DataFrame:
    """(id, cid, vec): every vector labeled with its nearest trained
    centroid — the shared front half of IVF search and semantic dedup.

    One broadcast crossJoin against the k centroids + one groupBy(id)
    argmin; deterministic (exact integer lattice distances, ties to the
    ascending cid).  Pass ``cents`` (e.g. the ``centroids`` artifact a
    prior index build persisted) to assign against a stored codebook
    with no Lloyd rounds in-plan."""
    if cents is None:
        cents = kmeans_centroids(embs, n_centroids)
    return (_nearest(_lattice(embs), cents, "embedding")
            .select(F.col("vec_id"), F.col("m.cid").alias("cid"),
                    F.col("embedding")))


def cluster_profile(embs: DataFrame, n_centroids: int = 4) -> DataFrame:
    """Corpus map: per-centroid population and inertia — (cid, n_vecs,
    inertia, avg_d2) ordered by cid, where ``inertia`` is the EXACT
    integer sum of squared lattice distances to the assigned centroid
    (the k-means objective, reported per cluster; Lloyd 1982).

    The dataset-card view of embedding space: cluster sizes expose
    imbalance (one giant cluster = the quantizer needs more centroids
    or more iterations), avg_d2 exposes diffuse clusters.  Same
    broadcast-argmin front half as IVF; the profile aggregation is one
    k-row shuffle.  Integer inertia makes the whole row set
    addition-order-free — any engine, any partitioning, same bytes.
    """
    assigned = (_nearest(_lattice(embs), kmeans_centroids(embs, n_centroids))
                .select(F.col("m.cid").alias("cid"),
                        F.col("m.d2").alias("d2")))
    return (assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("d2").alias("inertia"))
            .select("cid", "n_vecs", "inertia",
                    F.round(F.col("inertia") / F.col("n_vecs"), 6)
                    .alias("avg_d2"))
            .orderBy("cid"))


def semantic_near_pairs(embs: DataFrame, n_centroids: int = 4,
                        threshold: float = 0.5) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the trained
    k-means quantizer, then compare pairs ONLY within a cluster and gate
    on exact cosine similarity.

    Returns (cid, id_a, id_b, cosine_sim) for same-cluster pairs with
    cosine >= threshold (rounded to 6 dp, id_a < id_b).

    Scale (10^12 vectors): the all-pairs comparison SemDeDup avoids is
    O(N^2); clustering caps it at Σ|cluster|^2 — grow n_centroids
    linearly with N so the expected cluster size (and so per-cluster
    join cost) stays constant.  The join shuffles on cid only; at
    cluster scale write the corpus partitioned by cid and the
    self-join needs no exchange at all.
    """
    assigned = assign_centroids(embs, n_centroids)
    a = assigned.select(F.col("cid"), F.col("vec_id").alias("id_a"),
                        V.as_double(F.col("embedding")).alias("va"))
    b = assigned.select(F.col("cid"), F.col("vec_id").alias("id_b"),
                        V.as_double(F.col("embedding")).alias("vb"))
    sim = F.round(V.cosine(F.col("va"), F.col("vb")), 6)
    return (a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("cid", "id_a", "id_b", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def semantic_dedup(embs: DataFrame, n_centroids: int = 4,
                   threshold: float = 0.5) -> DataFrame:
    """Semantic dedup: drop every vector that has a LOWER-id semantic
    near-duplicate in its cluster (greedy keep-first, the same keep-min
    convention as ``dedup.deduplicate_corpus``).  Returns the kept rows
    of ``embs`` with their cluster id: (id, cid).

    The anti-join is on the id alone, so the kept set is deterministic
    under any partitioning of the pair table."""
    pairs = semantic_near_pairs(embs, n_centroids, threshold)
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    assigned = assign_centroids(embs, n_centroids)
    return (assigned.join(losers, "vec_id", "left_anti")
            .select(F.col("vec_id"), F.col("cid")))


def _subspace(embs: DataFrame, sub: int, sub_dim: int) -> DataFrame:
    """Rows restricted to one PQ subspace: the ``sub``-th contiguous
    ``sub_dim``-wide slice of the embedding, under the original column
    name so the k-means machinery applies unchanged."""
    return embs.select(
        F.col("vec_id"),
        F.slice(F.col("embedding"), sub * sub_dim + 1, sub_dim)
        .alias("embedding"))


def pq_codebooks(embs: DataFrame, m: int = 4, k: int = 4, iters: int = 2,
                 dim: int = 64) -> DataFrame:
    """Product-quantization codebooks (Jégou et al., TPAMI'11 §II): split
    the ``dim``-dimensional space into ``m`` contiguous subspaces and fit
    an independent k-means codebook of ``k`` codewords in each.  Returns
    (sub, cid, cv) with ``cv`` an ``array<bigint>`` lattice centroid of
    length dim/m — ``m * k`` rows total, a broadcastable table at any
    corpus size (the whole point of PQ: codebook size is independent of N
    while representable centroids grow as k^m).

    Deterministic end-to-end: each subspace fit is
    :func:`kmeans_centroids` on the sliced vectors — integer-lattice
    Lloyd, seeded by the k lowest ids, fixed iterations."""
    sub_dim = _pq_split(dim, m)
    books = None
    for s in range(m):
        cb = (kmeans_centroids(_subspace(embs, s, sub_dim), k, iters)
              .select(F.lit(s).alias("sub"), "cid", "cv"))
        books = cb if books is None else books.unionByName(cb)
    return books


def _pq_split(dim: int, m: int) -> int:
    """Width of each of the ``m`` contiguous PQ subspaces of ``dim``."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    return dim // m


def _sub_lattice_rows(embs: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """(id, sub, subqv): every vector exploded into its ``m`` lattice
    subvectors in ONE corpus scan.  The posexplode input builds each
    slice-then-transform element inline (cheap per-element arithmetic
    over dim total elements) — never from separately-projected
    expensive columns, which Generate would re-evaluate once per
    reference (docs/PLANS.md, expression single-evaluation)."""
    arr = F.array(*[
        F.transform(
            F.slice(V.as_double(F.col("embedding")), s * sub_dim + 1, sub_dim),
            lambda x: F.round(x * KMEANS_SCALE, 0).cast("long"))
        for s in range(m)
    ])
    return embs.select(F.col("vec_id"),
                       F.posexplode(arr).alias("sub", "subqv"))


def pq_codes(embs: DataFrame, m: int = 4, k: int = 4, iters: int = 2,
             dim: int = 64, books: DataFrame | None = None) -> DataFrame:
    """PQ encoding: every vector reduced to ``m`` codebook ids — (id,
    sub, code), one row per (vector, subspace), ``code`` the cid of the
    nearest subspace codeword (exact integer lattice distance, ties to
    the ascending cid).

    This is the stored representation at scale: 10^12 x dim floats
    become 10^12 x m small ints (64 dims -> 4 codes here), and search
    never touches the raw vectors again.  Encoding is ONE corpus scan:
    the m subvectors explode inline, join the broadcast m*k codebook
    table on ``sub``, and one groupBy(id, sub) argmin picks codes —
    corpus-side cost is independent of m's scan count (the earlier
    per-subspace formulation re-read the corpus m times).

    Pass ``books`` (from :func:`pq_codebooks`, or read back from the
    index job's artifacts) to encode against an existing codebook; by
    default the codebooks are fit in-plan."""
    sub_dim = _pq_split(dim, m)
    if books is None:
        books = pq_codebooks(embs, m, k, iters, dim)
    b = books.select(F.col("sub").alias("b_sub"), "cid", "cv")
    scored = (_sub_lattice_rows(embs, m, sub_dim)
              .join(F.broadcast(b), F.col("sub") == F.col("b_sub"))
              .select(F.col("vec_id"), F.col("sub"),
                      F.struct(_l2sq(F.col("subqv"), F.col("cv"))
                               .alias("d2"), F.col("cid")).alias("dc")))
    return (scored.groupBy("vec_id", "sub")
            .agg(F.min("dc").alias("mn"))
            .select(F.col("vec_id"), F.col("sub"),
                    F.col("mn.cid").alias("code")))


def _pq_lut(embs: DataFrame, books: DataFrame, query_id: int, m: int,
            sub_dim: int) -> DataFrame:
    """(sub, cid, d2): the ADC lookup table — the exact lattice distance
    from the query's subvector to every codeword of its subspace, m x k
    rows, broadcast by every consumer."""
    q_subs = (_sub_lattice_rows(embs, m, sub_dim)
              .filter(F.col("vec_id") == query_id)
              .select(F.col("sub").alias("q_sub"),
                      F.col("subqv").alias("q_vec")))
    return (books.join(F.broadcast(q_subs), F.col("sub") == F.col("q_sub"))
            .select(F.col("sub"), F.col("cid"),
                    _l2sq(F.col("q_vec"), F.col("cv")).alias("d2")))


def _check_together(**artifacts) -> None:
    """Stored-index artifacts come all together or not at all."""
    given = [a is not None for a in artifacts.values()]
    if any(given) and not all(given):
        raise ValueError(
            f"pass {', '.join(artifacts)} together (all from the stored "
            f"index) or none — codes paired with a codebook, bounds or "
            f"cells they were not built under silently corrupt every "
            f"distance")


def pq_topk(embs: DataFrame, query_id: int, k_neighbors: int = 10,
            m: int = 4, k: int = 4, dim: int = 64,
            books: DataFrame | None = None,
            codes: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search (Jégou et al., TPAMI'11 §III):
    approximate ||q - x||^2 by summing, per subspace, the exact distance
    from the query's subvector to x's assigned codeword.  Returns the
    top ``k_neighbors`` rows (vec_id, adc_d2) by ascending approximate
    distance, ties by ascending id, the query itself excluded.

    Scale: the codebooks are fit ONCE and shared by the encode pass and
    the lookup table; the LUT is m x k rows (query subvectors x
    codewords) and is broadcast; the corpus side touches only the (id,
    sub, code) table — at 10^12 vectors that is the precomputed code
    store (see ``jobs/run_index.py``), and the scan is a broadcast-
    hash-join + one groupBy(id) SUM of m rows per id.  All arithmetic
    on the integer lattice — bit-identical across engines.

    Pass ``books`` and ``codes`` (the ``pq_codebooks``/``pq_codes``
    artifacts ``jobs/run_index.py`` persists, read back from parquet)
    to search the STORED index — the plan then touches the raw vectors
    only for the one query row; by default both are fit/encoded
    in-plan."""
    sub_dim = _pq_split(dim, m)
    _check_together(books=books, codes=codes)
    if books is None:
        books = pq_codebooks(embs, m, k, dim=dim)
        codes = pq_codes(embs, m, k, dim=dim, books=books)
    lut = _pq_lut(embs, books, query_id, m, sub_dim)
    return (codes.join(F.broadcast(lut),
                       (codes["sub"] == lut["sub"])
                       & (codes["code"] == lut["cid"]))
            .filter(F.col("vec_id") != query_id)
            .groupBy("vec_id")
            .agg(F.sum("d2").alias("adc_d2"))
            .orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
            .limit(k_neighbors))


def ivfadc_topk(embs: DataFrame, query_id: int, k_neighbors: int = 10,
                n_centroids: int = 4, m: int = 4, k: int = 4, dim: int = 64,
                cents: DataFrame | None = None,
                books: DataFrame | None = None,
                codes: DataFrame | None = None) -> DataFrame:
    """IVFADC search (Jégou et al., TPAMI'11 §IV — the non-exhaustive
    composition of the coarse IVF quantizer and PQ/ADC ranking): probe
    the 2 coarse cells nearest the query, then ADC-rank the PQ
    codes of the vectors INSIDE the probed cells only — never the whole
    code table.  This is the actual shape of a 10^12-vector serving
    index: the coarse probe prunes the scan to ~2/n_centroids of
    the corpus, and inside the probed slice the per-vector work is an
    m-row LUT sum over small ints, the raw vectors untouched.

    Returns (vec_id, cid, adc_d2): top ``k_neighbors`` by ascending
    approximate distance, ties by ascending id, the query excluded;
    ``cid`` is the surviving vector's coarse cell (provenance of the
    pruning).  All distance arithmetic on the integer lattice —
    bit-identical across engines.

    Stored-index mode: pass ``cents`` (the ``centroids`` artifact),
    ``books`` (``pq_codebooks``) and ``codes`` — the ``pq_codes``
    artifact, which ``jobs/run_index.py`` writes PARTITIONED BY ``cid``
    with the cell id as a column, so the probed-cid join prunes whole
    files at scan time.  All three together or none: codes encoded
    against one codebook and ranked by a LUT from another silently
    corrupt every distance (same contract as :func:`pq_topk`).  By
    default everything is fit/encoded in-plan (toy sizes / oracles).
    """
    sub_dim = _pq_split(dim, m)
    _check_nprobe(2, n_centroids)
    _check_together(cents=cents, books=books, codes=codes)
    if cents is None:
        cents = kmeans_centroids(embs, n_centroids)
        books = pq_codebooks(embs, m, k, dim=dim)
        codes = pq_codes(embs, m, k, dim=dim, books=books) \
            .join(assign_centroids(embs, cents=cents)
                  .select(F.col("vec_id"), F.col("cid")), "vec_id")
    # the probed-cid join comes FIRST: the big code table is pruned to
    # the probed cells before any ADC work (file-level when the stored
    # codes are partitioned by cid; a broadcast hash semi-join otherwise)
    pruned = codes.join(F.broadcast(_probes(embs, cents, query_id, 2)), "cid")
    lut = _pq_lut(embs, books, query_id, m, sub_dim).select(
        F.col("sub").alias("l_sub"), F.col("cid").alias("l_cid"),
        F.col("d2"))
    return (pruned.join(F.broadcast(lut),
                        (pruned["sub"] == lut["l_sub"])
                        & (pruned["code"] == lut["l_cid"]))
            .filter(F.col("vec_id") != query_id)
            .groupBy("vec_id", "cid")
            .agg(F.sum("d2").alias("adc_d2"))
            .orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
            .limit(k_neighbors))


def bucketed_topk(embs: DataFrame, query_id: int,
                  n_bits: int = 8) -> DataFrame:
    """Approximate top-10: exact cosine ranking restricted to the
    query's sign-LSH bucket (IVF nprobe=1). Recall trades off with
    n_bits; the scan prunes to ~1/2^bits of the corpus when the table
    is partitioned by bucket."""
    with_bucket = embs.withColumn(
        "bucket", V.sign_bucket(F.col("embedding"), n_bits))
    q = (
        with_bucket.filter(F.col("vec_id") == query_id)
        .select(F.col("vec_id").alias("query_id"),
                V.as_double(F.col("embedding")).alias("q_vec"),
                F.col("bucket").alias("q_bucket"))
    )
    return _cosine_rank(
        with_bucket.join(F.broadcast(q),
                         with_bucket["bucket"] == q["q_bucket"]),
        "vec_id", 10)


def jl_sign_matrix(spark, in_dim: int, out_dim: int):
    """Deterministic Johnson-Lindenstrauss sign matrix as a (i, j, s)
    DataFrame: s = ±1 from the parity of hash32(md5('jl0:i:j')) —
    content-addressed, so every run, cluster, and engine materializes
    the identical matrix without storing it.  in_dim x out_dim rows:
    broadcast-sized for any practical projection."""
    from ..functions import hashing as H

    ij = (spark.range(in_dim).select(F.col("id").alias("i"))
          .crossJoin(spark.range(out_dim).select(F.col("id").alias("j"))))
    h = H.hash32(F.concat(F.lit("jl0:"),
                          F.col("i").cast("string"), F.lit(":"),
                          F.col("j").cast("string")))
    return ij.withColumn(
        "s", F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("long"))


def project_embeddings(embs: DataFrame) -> DataFrame:
    """JL sign projection of the 64-dim embeddings onto 16 dims, on the
    integer lattice: y_j = Σ_i x_i·s(i,j) with x the KMEANS_SCALE-rounded
    lattice values — exact bigint sums, so projected vectors are
    bit-identical across engines.  Returns (id, j, y) in relational form
    (16 rows per vector).

    Why: random sign projections preserve cosine geometry in
    expectation (Achlioptas 2003's database-friendly JL variant) — the
    cheap dimension cut ahead of ANN at 10^12 vectors: a 64→16
    projection quarters every downstream distance computation and
    shrinks the stored index the same factor.

    Scale: one explode of the lattice values joined to the broadcast
    sign matrix, one (id, j) partial-agg sum — a single keyed shuffle
    whose width is 16 longs per vector."""
    lat = _lattice(embs)
    signs = jl_sign_matrix(embs.sparkSession, 64, 16)
    expl = lat.select(F.col("vec_id"), F.posexplode("qv").alias("i", "v"))
    return (expl.join(F.broadcast(signs), "i")
            .groupBy("vec_id", "j")
            .agg(F.sum(F.col("v") * F.col("s")).alias("y")))


def jl_topk(embs: DataFrame, query_id: int, k: int) -> DataFrame:
    """Cosine top-k in the PROJECTED space (:func:`project_embeddings`):
    exact integer dots/norms
    over the projected vectors, one double division + sqrt at the very
    end (correctly-rounded IEEE ops — engine-identical), ties by id.
    Returns (vec_id, proj_cosine)."""
    proj = project_embeddings(embs)
    q = proj.filter(F.col("vec_id") == query_id) \
        .select(F.col("j"), F.col("y").alias("qy"))
    joined = (proj.filter(F.col("vec_id") != query_id)
              .join(F.broadcast(q), "j")
              .groupBy("vec_id")
              .agg(F.sum(F.col("y") * F.col("qy")).alias("dot"),
                   F.sum(F.col("y") * F.col("y")).alias("n2"),
                   F.sum(F.col("qy") * F.col("qy")).alias("qn2")))
    cos = F.round(F.col("dot") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2"))),
                  6)
    return (joined.select(F.col("vec_id"), cos.alias("proj_cosine"))
            .orderBy(F.col("proj_cosine").desc(), F.col("vec_id").asc())
            .limit(k))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
             n_centroids: int = 4, nprobe: int = 2) -> DataFrame:
    """Batch k-NN JOIN: for EVERY query vector, its top-``k`` cosine
    neighbors in the corpus — the many-queries shape of retrieval-
    augmented dataset construction and SemDeDup assignment, where
    :func:`ivf_topk`'s one-query-per-plan form would launch a job per
    row.  IVF-blocked: both sides are assigned to the trained coarse
    cells, each query probes its ``nprobe`` nearest cells, and cosine
    is ranked only inside (query, probed-cell) candidate pairs — never
    the |Q| x |N| cross product.

    Returns (query_id, vec_id, cid, cosine_sim, rank): ``rank`` 1..k by
    (cosine desc, id asc) per query, self-matches excluded, ordered by
    (query_id, rank).

    Scale (10^12 corpus, 10^6+ queries): the corpus is assigned ONCE
    (same single pass :func:`ivf_topk` uses — store it partitioned by
    ``cid`` and the probe join prunes files); the probe side is
    |Q| x nprobe rows and is broadcast here (drop the broadcast hint
    for huge Q and the cid join becomes sort-merge, still never
    all-pairs).  The per-query top-k filter is a rank-limit window:
    Spark's WindowGroupLimit rewrite pushes a per-partition top-k
    BEFORE the (query_id) exchange, so no single task ever holds a
    query's full candidate set.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    _check_nprobe(nprobe, n_centroids)
    from pyspark.sql import Window

    cents = kmeans_centroids(corpus, n_centroids)
    assigned = assign_centroids(corpus, cents=cents)
    qdist = _cell_d2(_lattice(queries), cents,
                     F.col("vec_id").alias("query_id"))
    wprobe = Window.partitionBy("query_id").orderBy(F.col("d2").asc(),
                                                    F.col("cid").asc())
    probes = (qdist.withColumn("_pn", F.row_number().over(wprobe))
              .filter(F.col("_pn") <= nprobe).select("query_id", "cid"))
    qvecs = queries.select(F.col("vec_id").alias("query_id"),
                           V.as_double(F.col("embedding")).alias("q_vec"))
    probe_side = probes.join(qvecs, "query_id")
    cand = (assigned.join(F.broadcast(probe_side), "cid")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(F.col("query_id"), F.col("vec_id"), F.col("cid"),
                    _cosine_sim()))
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                                F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .withColumn("rank", F.col("rank").cast("long"))
            .orderBy("query_id", "rank"))


SQ8_LEVELS = 255  # int8 code range [0, 255]


def sq8_bounds(embs: DataFrame) -> DataFrame:
    """Per-dimension (dim, mn, mx) lattice bounds over the corpus — the
    trained parameters of scalar quantization (the stored artifact; one
    row per dimension, broadcast-sized for any practical dim).

    Scale: one posexplode + (dim) partial-agg min/max — shuffle
    cardinality is ``dim`` rows regardless of N."""
    lat = _lattice(embs)
    return (lat.select(F.posexplode("qv").alias("dim", "v"))
            .groupBy("dim")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx")))


def _sq8_bounds_row(bounds: DataFrame) -> DataFrame:
    """Fold the (dim, mn, mx) table into ONE row of aligned arrays
    (mns, mxs) so the per-vector quantize/reconstruct is a narrow
    zip over broadcast arrays instead of a per-dim join."""
    return (bounds.groupBy()
            .agg(F.array_sort(F.collect_list(
                F.struct("dim", "mn", "mx"))).alias("p"))
            .select(F.transform("p", lambda s: s["mn"]).alias("mns"),
                    F.transform("p", lambda s: s["mx"]).alias("mxs")))


def sq8_codes(embs: DataFrame, bounds: DataFrame | None = None) -> DataFrame:
    """Scalar int8 quantization: every lattice value mapped to a code in
    [0, 255] by per-dimension min-max — (id, codes array<long>), an 8x
    (fp64-lattice) / 4x (fp32) shrink of the stored index with none of
    PQ's codebook training.  code = ((v - mn) * 255) // (mx - mn),
    clamped (constant dimensions code to 0) — exact integer arithmetic,
    bit-identical across engines.

    Pass ``bounds`` (the :func:`sq8_bounds` artifact read back from
    parquet) to encode NEW vectors against stored training bounds —
    out-of-range values clamp to the edge codes, same contract as any
    SQ index.  Default fits bounds in-plan (toy sizes / oracles).

    Scale: bounds fold to one broadcast row of arrays; encoding is a
    single narrow zip_with per vector — no shuffle of the data."""
    if bounds is None:
        bounds = sq8_bounds(embs)
    return _sq8_coded(embs, bounds).select("vec_id", "codes")


def _sq8_coded(embs: DataFrame, bounds: DataFrame) -> DataFrame:
    """(vec_id, codes, mns, mxs): every lattice vector quantized against
    ``bounds``, the folded bounds arrays carried in the SAME column
    layer so the per-dim bounds aggregate has exactly one consumer per
    plan (Catalyst does not reuse the fold across branches)."""
    bz = F.zip_with(F.col("mns"), F.col("mxs"),
                    lambda mn, mx: F.struct(mn.alias("mn"), mx.alias("mx")))
    codes = F.zip_with(
        F.col("qv"), bz,
        lambda v, b: F.when(b["mx"] == b["mn"], F.lit(0).cast("long"))
        .otherwise(F.least(
            F.lit(SQ8_LEVELS).cast("long"),
            F.greatest(F.lit(0).cast("long"),
                       F.floor(((v - b["mn"]) * SQ8_LEVELS).cast("double")
                               / (b["mx"] - b["mn"]).cast("double"))))))
    return (_lattice(embs).crossJoin(F.broadcast(_sq8_bounds_row(bounds)))
            .select(F.col("vec_id"), codes.alias("codes"), F.col("mns"),
                    F.col("mxs")))


def _sq8_rank(coded: DataFrame, embs: DataFrame, query_id: int, k: int,
              *carry: str) -> DataFrame:
    """(vec_id, *carry, sq_d2): the top ``k`` rows of ``coded`` (carrying
    codes, mns, mxs) by the asymmetric SQ8 distance — exact integer L2
    between the query's lattice vector and each vector's cell-midpoint
    reconstruction — ties by ascending id, the query excluded."""
    q = (_lattice(embs)
         .filter(F.col("vec_id") == query_id)
         .select(F.col("qv").alias("qqv")))
    z = F.arrays_zip(F.col("codes"), F.col("mns"), F.col("mxs"),
                     F.col("qqv"))

    def _recon(s):
        return F.when(s["mxs"] == s["mns"], s["mns"]).otherwise(
            s["mns"] + F.floor(
                ((2 * s["codes"] + 1) * (s["mxs"] - s["mns"]))
                .cast("double") / F.lit(2.0 * SQ8_LEVELS)))

    # hoist the branchy reconstruction into ONE transform pass — HOF
    # lambdas are interpreted (never codegen'd), so referencing
    # _recon(s) twice inside the aggregate would evaluate the whole
    # branch chain twice per element (the cross-alias no-CSE rule at
    # expression scale)
    diffs = F.transform(z, lambda s: s["qqv"] - _recon(s))
    d2 = F.aggregate(diffs, F.lit(0).cast("long"),
                     lambda acc, v: acc + v * v)
    return (coded.filter(F.col("vec_id") != query_id)
            .crossJoin(F.broadcast(q))
            .select(F.col("vec_id"), *carry, d2.alias("sq_d2"))
            .orderBy(F.col("sq_d2").asc(), F.col("vec_id").asc())
            .limit(k))


def sq8_topk(embs: DataFrame, query_id: int, k: int = 10,
             codes: DataFrame | None = None,
             bounds: DataFrame | None = None) -> DataFrame:
    """Asymmetric scalar-quantized top-k: the full-precision lattice
    query vs midpoint-reconstructed int8 corpus codes — the SQ
    counterpart of :func:`pq_topk`'s ADC.  recon = mn +
    ((2*code + 1) * (mx - mn)) // 510 (cell midpoint, halving the
    worst-case quantization error of edge reconstruction); distance is
    the exact integer L2 between the query lattice vector and the
    reconstruction.  Returns (vec_id, sq_d2): top ``k`` ascending,
    ties by id, query excluded.

    Stored-index mode: pass ``codes`` AND ``bounds`` together (codes
    reconstructed against bounds they were not encoded with silently
    corrupt every distance — same contract as :func:`pq_topk`).

    Scale: the scan reads ONLY the code column (the raw vectors stay on
    disk), the bounds row and query vector broadcast, and
    TakeOrderedAndProject keeps top-k memory O(k) per task — no
    shuffle at all.  The in-plan path derives codes and carries the
    bounds arrays in ONE shared column layer, so the per-dim bounds
    aggregate has exactly one consumer (the multi-consumer re-derive
    discipline — Catalyst does not reuse the fold across branches)."""
    _check_together(codes=codes, bounds=bounds)
    if codes is None:
        coded = _sq8_coded(embs, sq8_bounds(embs))
    else:
        coded = codes.crossJoin(F.broadcast(_sq8_bounds_row(bounds)))
    return _sq8_rank(coded, embs, query_id, k)


def ivfsq_topk(embs: DataFrame, query_id: int, k: int = 10,
               n_centroids: int = 4, nprobe: int = 2,
               cents: DataFrame | None = None,
               bounds: DataFrame | None = None,
               codes: DataFrame | None = None) -> DataFrame:
    """IVF-SQ search — the coarse-quantizer composition for the SCALAR
    int8 index, exactly as :func:`ivfadc_topk` composes IVF with PQ:
    probe the ``nprobe`` coarse cells nearest the query, then rank the
    midpoint-reconstructed SQ8 codes of the vectors INSIDE the probed
    cells only — never the whole code table.  Together with IVFADC this
    covers both stored-index families a 10^12-vector serving layer
    chooses between (trained sub-codebooks vs training-free per-dim
    bounds; Jégou et al. TPAMI'11 §IV for the probe shape).

    Returns (vec_id, cid, sq_d2): top ``k`` by ascending asymmetric
    integer L2, ties by ascending id, the query excluded; ``cid`` is
    the surviving vector's coarse cell (provenance of the pruning).

    Stored-index mode: pass ``cents`` (the ``centroids`` artifact),
    ``bounds`` (``sq8_bounds``) and ``codes`` — the ``sq8_codes``
    artifact, which ``jobs/run_index.py`` writes PARTITIONED BY ``cid``
    with the cell id as a column, so the probed-cid join prunes whole
    files at scan time.  All three together or none (codes
    reconstructed against bounds they were not encoded with, or pruned
    by cells they were not assigned under, silently corrupt every
    distance).  By default everything is fit/encoded in-plan (toy
    sizes / oracles), carrying (codes, mns, mxs) in ONE shared column
    layer so the per-dim bounds fold has exactly one consumer.

    Scale: the probed scan reads only the code column of nprobe/
    n_centroids of the corpus; bounds row, probe list and query vector
    all broadcast; TakeOrderedAndProject keeps top-k memory O(k) per
    task — no shuffle at all in stored mode."""
    _check_nprobe(nprobe, n_centroids)
    _check_together(cents=cents, bounds=bounds, codes=codes)
    if cents is None:
        cents = kmeans_centroids(embs, n_centroids)
        coded = (_sq8_coded(embs, sq8_bounds(embs))
                 .join(assign_centroids(embs, cents=cents)
                       .select(F.col("vec_id"), F.col("cid")), "vec_id"))
    else:
        coded = codes.crossJoin(F.broadcast(_sq8_bounds_row(bounds)))
    # the probed-cid join comes FIRST: the code table is pruned to the
    # nprobe cells before any reconstruction work (file-level when the
    # stored codes are partitioned by cid)
    pruned = coded.join(F.broadcast(_probes(embs, cents, query_id, nprobe)),
                        "cid")
    return _sq8_rank(pruned, embs, query_id, k, "cid")


def lattice_l2_topk(embs: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact integer-lattice L2 top-k — the brute-force baseline the
    quantized searches (:func:`sq8_topk`, :func:`pq_topk`) are measured
    against.  Returns (vec_id, d2), ascending, ties by id, query
    excluded.  Narrow scan + TakeOrderedAndProject, no shuffle."""
    lat = _lattice(embs)
    q = (lat.filter(F.col("vec_id") == query_id)
         .select(F.col("qv").alias("qqv")))
    return (lat.filter(F.col("vec_id") != query_id)
            .crossJoin(F.broadcast(q))
            .select(F.col("vec_id"),
                    _l2sq(F.col("qv"), F.col("qqv")).alias("d2"))
            .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
            .limit(k))


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate top-k against the exact one — the
    stated error every approximate answer comes with.  Returns the one
    row (k, n_hits, recall_micro): ``n_hits`` counts the exact
    neighbours (by ``vec_id``) the approximate list also holds and
    ``recall_micro`` = n_hits * 10^6 div k, integer micro-units that
    every engine reproduces bit-for-bit."""
    hits = (exact.select("vec_id")
            .join(approx.select("vec_id"), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return hits.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr(f"cast((n_hits * 1000000) div {k} as bigint)")
        .alias("recall_micro"))
