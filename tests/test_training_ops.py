"""Training-data pipeline operators: dedup, similarity, text analytics.

Constructed fixtures with known duplicates/neighbors — semantic checks
independent of the DuckDB oracle parity (which tools/check_entry.py and
the driver cover)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import (
    dedup,
    embedding,
    similarity,
    textanalysis,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to hide from the loud hunting party")
NEAR = BASE.replace("green forest", "green woods")  # one-token edit
OTHER = ("completely different content about spark shuffles partitions and "
         "catalyst optimizer internals with columnar arrow batches flowing")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE), (2, BASE),          # exact dups
        (3, NEAR),                      # near-dup of 1/2
        (4, OTHER), (5, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(corpus):
    groups = dedup.exact_duplicates(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2
    assert groups[0]["canonical_id"] == 1


def test_minhash_lsh_finds_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_candidate_pairs(corpus).collect()}
    assert (1, 2) in pairs            # identical -> all bands collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup caught by >=1 band
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_jaccard_pairs_values(corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(corpus, threshold=0.5,
                                          allow_quadratic=True).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_jaccard_pairs_quadratic_path_requires_opt_in(corpus):
    """Unblocked jaccard_pairs is an O(N^2) cross join — it must fail
    loudly (house convention: SimHash lane cap, max_hamming, bands
    divisibility) rather than silently plan a quadratic join."""
    import pytest

    with pytest.raises(ValueError, match="allow_quadratic"):
        dedup.jaccard_pairs(corpus, threshold=0.5)


def test_simhash_hamming_structure(corpus):
    sigs = {r["doc_id"]: (r["sig_hi"], r["sig_lo"])
            for r in dedup.simhash_signatures(corpus).collect()}
    assert all(0 <= hi < 2 ** 32 and 0 <= lo < 2 ** 32
               for hi, lo in sigs.values())
    assert sigs[1] == sigs[2]

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_pairs(corpus, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_banding_recall_cross_band(spark):
    """Pigeonhole guarantee: distance-2 pairs whose flipped bits land in
    DIFFERENT 16-bit bands (incl. across the hi/lo halves) must still be
    found — the round-1 two-block scheme missed exactly these."""
    rows = [
        (1, 0, 0),
        (2, 0, (1 << 0) | (1 << 17)),   # 2 flips across lo's two bands
        (3, 1 << 1, 1 << 20),           # 2 flips across hi and lo
        # 3 flips vs doc 3 in bands {0, 0, 3}; bands 1-2 still agree
        (4, (1 << 1) | (1 << 18), (1 << 20) | (1 << 3) | (1 << 5)),
        (5, 0x0F0F0F0F, 0xF0F0F0F0),    # far from everything
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, sig_hi long, sig_lo long")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs_from_signatures(
                 sigs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 2
    assert pairs[(1, 3)] == 2
    assert pairs[(3, 4)] == 3
    assert all(5 not in p for p in pairs)


def test_simhash_max_hamming_guard(spark):
    sigs = spark.createDataFrame([(1, 0, 0)], "doc_id long, sig_hi long, sig_lo long")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs_from_signatures(sigs, max_hamming=4)


def test_simhash_lane_cap_guard(spark):
    """SWAR 16-bit lane counters overflow silently past 65535 distinct
    shingles, so the operator must raise loudly instead.  Exercise the
    guard with a tiny injected cap (the mechanism is cap-independent)."""
    from pyspark.errors import SparkRuntimeException

    big = " ".join(f"w{i}" for i in range(15))  # 13 distinct 3-shingles
    docs = spark.createDataFrame(
        [(1, big), (2, "zz aa bb")], "doc_id long, text string")
    # doc 1 has 13 distinct token 3-shingles: cap=8 must raise loudly
    with pytest.raises(SparkRuntimeException, match="lane cap 8"):
        dedup.simhash_signatures(docs, lane_cap=8).collect()
    # boundary: cap == n is safe, signatures come back for both docs
    ok = dedup.simhash_signatures(docs, lane_cap=13).collect()
    assert len(ok) == 2
    # cap above the SWAR-safe 65535 is itself rejected
    with pytest.raises(ValueError, match="lane_cap"):
        dedup.simhash_signatures(docs, lane_cap=70000)


def test_simhash_lane_cap_default_unchanged(corpus):
    """Guarded signatures equal the unguarded values for in-cap docs."""
    sigs = {r["doc_id"]: (r["sig_hi"], r["sig_lo"])
            for r in dedup.simhash_signatures(corpus).collect()}
    assert sigs[1] == sigs[2]


def test_minhash_bands_must_divide(corpus):
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_band_keys(corpus, bands=3)


def _star_corpus(spark):
    """C (highest id) is a near-dup of BOTH A and B, but A and B are not
    near-dups of each other — the case where greedy and CC differ."""
    base = [f"tok{i:02d}" for i in range(50)]
    A = " ".join(["zzA" if i == 10 else t for i, t in enumerate(base)])
    B = " ".join(["zzB" if i == 40 else t for i, t in enumerate(base)])
    C = " ".join(base)
    return spark.createDataFrame([(1, A), (2, B), (3, C)],
                                 "doc_id long, text string")


def test_cc_dedup_differs_from_greedy_on_star(spark):
    c = _star_corpus(spark)
    pairs = sorted((r.id_a, r.id_b)
                   for r in dedup.verified_near_pairs(c).collect())
    assert pairs == [(1, 3), (2, 3)]      # star: no (1, 2) pair
    greedy = sorted(r.doc_id for r in dedup.deduplicate_corpus(c).collect())
    cc = sorted(r.doc_id for r in dedup.deduplicate_corpus_cc(c).collect())
    assert greedy == [1, 2]   # judges each pair independently: only C drops
    assert cc == [1]          # one component {A,B,C} -> keep min id only


def test_cc_dedup_chain_propagates_min_label(spark):
    """A~B~C chain (no direct A~C pair): min-label propagation needs two
    rounds to pull C's label down to A through B."""
    base = [f"tok{i:02d}" for i in range(50)]
    A = " ".join(base)
    B = " ".join(["zzB" if i == 10 else t for i, t in enumerate(base)])
    C = " ".join(["zzB" if i == 10 else ("zzC" if i == 40 else t)
                  for i, t in enumerate(base)])
    c = spark.createDataFrame([(1, A), (2, B), (3, C)],
                              "doc_id long, text string")
    pairs = sorted((r.id_a, r.id_b)
                   for r in dedup.verified_near_pairs(c).collect())
    assert pairs == [(1, 2), (2, 3)]
    cc = sorted(r.doc_id for r in dedup.deduplicate_corpus_cc(c).collect())
    assert cc == [1]


def test_cc_cluster_sizes_histogram(spark):
    # star corpus = one component {1,2,3}; two unrelated docs stay
    # singletons -> histogram rows (3, 1 cluster, 3 docs) and
    # (1, 2 clusters, 2 docs); n_docs must conserve the corpus
    c = _star_corpus(spark).union(spark.createDataFrame(
        [(10, "completely different words over here today"),
         (11, "another unrelated document body entirely separate")],
        "doc_id long, text string"))
    hist = {r.cluster_size: (r.n_clusters, r.n_docs)
            for r in dedup.cc_cluster_sizes(c).collect()}
    assert hist == {3: (1, 3), 1: (2, 2)}
    assert sum(d for _, d in hist.values()) == c.count()


def test_cc_dedup_storage_backed_checkpoint(spark, tmp_path):
    """checkpoint_dir routes every lineage cut through real parquet files
    (cluster-safe: survives executor loss, unlike localCheckpoint blocks)
    and must reproduce the default path's answer exactly."""
    c = _star_corpus(spark)
    ckpt = str(tmp_path / "dedup_ckpt")
    cc = sorted(r.doc_id
                for r in dedup.deduplicate_corpus_cc(
                    c, checkpoint_dir=ckpt).collect())
    assert cc == [1]
    root = tmp_path / "dedup_ckpt"
    dirs = [p for p in root.rglob("*.parquet") if p.is_dir()]
    written = sorted(p.name for p in dirs)
    # pairs + edges + initial labels + >=1 label round hit storage
    assert any(n.startswith("minhash_pairs") for n in written)
    assert any(n.startswith("cc_edges") for n in written)
    assert sum(n.startswith("cc_labels") for n in written) >= 2
    assert all((p / "_SUCCESS").exists() for p in dirs)
    # every materialization is namespaced <appId>/mat_NNNN/<name>.parquet
    # so concurrent/re-run jobs sharing checkpoint_dir never clobber
    for p in dirs:
        rel = p.relative_to(root).parts
        assert len(rel) == 3 and rel[1].startswith("mat_"), rel


def test_simhash_pairs_storage_backed_checkpoint(spark, tmp_path):
    rows = [(1, 0, 0), (2, 0, 1), (3, 0x0F0F0F0F, 0xF0F0F0F0)]
    sigs = spark.createDataFrame(rows, "doc_id long, sig_hi long, sig_lo long")
    ckpt = str(tmp_path / "sh_ckpt")
    got = sorted((r.id_a, r.id_b, r.hamming)
                 for r in dedup.simhash_pairs_from_signatures(
                     sigs, checkpoint_dir=ckpt).collect())
    assert got == [(1, 2, 1)]
    assert any(p.name.startswith("simhash_pairs")
               for p in (tmp_path / "sh_ckpt").rglob("*.parquet"))


@pytest.fixture(scope="module")
def vectors(spark):
    def v(theta):
        return [float(math.cos(theta)), float(math.sin(theta))] + [0.0] * 6
    rows = [(0, v(0.01)), (1, v(0.05)), (2, v(0.4)), (3, v(1.5)), (4, v(3.1))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_orders_by_angle(vectors):
    top = similarity.cosine_topk(vectors, query_id=0, k=4).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3, 4]
    sims = [r["cosine_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert sims[0] == pytest.approx(math.cos(0.05 - 0.01), abs=1e-6)


def test_multiprobe_expands_recall_by_margin_flips(vectors):
    """nprobe=1 == single-bucket result; enough probes reach vec 4 in
    the opposite-sign bucket; invalid nprobe fails loudly."""
    one = {r.vec_id for r in similarity.bucketed_topk_multiprobe(
        vectors, query_id=0, k=10, n_bits=2, nprobe=1).collect()}
    base = {r.vec_id for r in similarity.bucketed_topk(
        vectors, query_id=0, n_bits=2).collect()}
    assert one == base
    three = {r.vec_id for r in similarity.bucketed_topk_multiprobe(
        vectors, query_id=0, k=10, n_bits=2, nprobe=3).collect()}
    assert base <= three
    assert 4 in three                 # negative-x bucket reached via flip
    exact = {r.vec_id for r in similarity.cosine_topk(
        vectors, query_id=0, k=10).collect()}
    assert three <= exact
    with pytest.raises(ValueError, match="nprobe"):
        similarity.bucketed_topk_multiprobe(vectors, 0, nprobe=0)


def test_bucketed_topk_prunes_to_query_bucket(vectors):
    # vec 4 has negative x -> different sign bucket than the query
    top = similarity.bucketed_topk(vectors, query_id=0, n_bits=2).collect()
    ids = [r["vec_id"] for r in top]
    assert 4 not in ids
    assert ids[0] == 1


def test_bucket_histogram_counts(vectors):
    hist = {r["bucket"]: r["n_vecs"]
            for r in similarity.bucket_histogram(vectors, n_bits=2).collect()}
    assert sum(hist.values()) == 5


def test_token_stats_and_quality(corpus):
    stats = {r["doc_id"]: r for r in textanalysis.token_stats(corpus).collect()}
    assert stats[5]["n_tokens"] == 2
    assert stats[1]["n_tokens"] == len(BASE.split())
    assert 0 < stats[1]["distinct_ratio"] <= 1.0

    q = {r["doc_id"]: r for r in textanalysis.quality_scores(corpus).collect()}
    assert 0 <= q[1]["quality_score"] <= 1
    assert q[1]["stopword_ratio"] > q[4]["stopword_ratio"]


def test_language_id(corpus):
    langs = {r["doc_id"]: r["pred_lang"]
             for r in textanalysis.language_id(corpus).collect()}
    assert langs[1] == "en"      # stopword-rich English
    assert langs[5] == "und"     # "tiny doc" — no stopword signal


def test_fingerprint_order_sensitivity(spark):
    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
            (3, "gamma beta alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textanalysis.fingerprints(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]  # rolling hash is order-sensitive


def _winnow_gram_hashes(text: str, k: int = 3) -> list[int]:
    """Token-hash integer-combination gram hashes (winnow_hash_frame)."""
    import hashlib as _hl
    toks = [t for t in text.split(" ") if t]
    th = [int(_hl.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    if len(toks) >= k:
        hs = []
        for i in range(len(th) - k + 1):
            a = th[i]
            for j in range(1, k):
                a = (a * 8191 + th[i + j]) & 0xFFFFFFFF
            hs.append(a)
        return hs
    a = 0
    for h in th:
        a = (a * 8191 + h) & 0xFFFFFFFF
    return [a]


def _winnow_brute(text: str, k: int = 3, w: int = 4) -> set[tuple[int, int]]:
    """Reference winnowing in plain Python (rightmost-min rule)."""
    hs = _winnow_gram_hashes(text, k)
    out = set()
    for i in range(max(len(hs) - w + 1, 1)):
        win = hs[i:i + w]
        m = min(win)
        p = max(j for j, v in enumerate(win) if v == m)
        out.add((i + p + 1, m))  # 1-based gram index
    return out


def test_winnow_matches_bruteforce(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "tiny doc"),            # < k tokens -> whole-text gram
            (4, "x y z")]               # exactly k tokens -> one gram
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["pos"], r["gram_hash"])
           for r in textanalysis.winnow_fingerprints(df).collect()}
    want = {(d, p, h) for d, t in rows for (p, h) in _winnow_brute(t)}
    assert got == want


def test_winnow_property_matches_bruteforce(spark):
    """Hypothesis batch over a TINY token alphabet — repeated grams
    force window-minimum ties, exercising the rightmost-tie rule the
    fixed fixtures rarely hit; one Spark pass for the whole batch."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = st.sampled_from(["a", "b", "ab"])
    lists = st.lists(tok, min_size=0, max_size=30)
    cases: list[list[str]] = []

    @settings(max_examples=150, deadline=None)
    @given(lists)
    def collect(ts):
        cases.append(ts)

    collect()
    df = spark.createDataFrame(
        [(i, " ".join(c)) for i, c in enumerate(cases)],
        "doc_id long, text string")
    got: dict[int, set] = {}
    for r in textanalysis.winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["gram_hash"]))
    for i, c in enumerate(cases):
        assert got.get(i, set()) == _winnow_brute(" ".join(c)), (i, c)


def test_winnow_shared_run_guarantee(spark):
    # any shared run of w+k-1 = 6 words must yield a shared fingerprint
    shared = "one two three four five six"
    rows = [(1, "aa bb cc " + shared + " dd ee"),
            (2, "zz yy " + shared + " xx ww vv uu")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = textanalysis.winnow_fingerprints(df).collect()
    h1 = {r["gram_hash"] for r in fps if r["doc_id"] == 1}
    h2 = {r["gram_hash"] for r in fps if r["doc_id"] == 2}
    assert h1 & h2


def test_winnow_guard_and_plan(spark):
    import pytest as _pt
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pt.raises(ValueError):
        textanalysis.winnow_fingerprints(df, w=0)
    plan = textanalysis.winnow_fingerprints(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("md5") == 1, plan   # single-hash discipline holds
    assert "Exchange" not in plan         # fully narrow


def test_deduplicate_corpus_keep_first(corpus):
    kept = sorted(r["doc_id"]
                  for r in dedup.deduplicate_corpus(corpus, jaccard_threshold=0.5)
                  .select("doc_id").collect())
    # 2 is an exact dup of 1; 3 is a near-dup of 1 (jaccard >= 0.5) -> both
    # dropped under keep-first; 1, 4, 5 survive
    assert kept == [1, 4, 5]


def test_dedup_paragraphs_keep_first_global(spark):
    """Corpus-global exact paragraph dedup: a shared paragraph survives
    only at its first (id, pos) occurrence — cross-doc AND within-doc —
    and documents reassemble in original order."""
    rows = [
        (1, "alpha one\nSHARED AD\nalpha two"),
        (2, "SHARED AD\nbeta one\nSHARED AD"),      # both copies seen before
        (3, "gamma one\ngamma one\ngamma two"),     # within-doc repeat
        (4, "SHARED AD"),                           # fully deduped away
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.dedup_paragraphs(df).collect()}
    assert out[1]["clean_text"] == "alpha one\nSHARED AD\nalpha two"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (3, 0)
    assert out[2]["clean_text"] == "beta one"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 2)
    assert out[3]["clean_text"] == "gamma one\ngamma two"
    assert out[4]["clean_text"] == ""
    assert (out[4]["n_kept"], out[4]["n_dropped"]) == (0, 1)

    # partition-invariant: the winner is an aggregate of (id, pos),
    # never partition order
    again = {r["doc_id"]: r["clean_text"]
             for r in dedup.dedup_paragraphs(df.repartition(7)).collect()}
    assert again == {k: v["clean_text"] for k, v in out.items()}


def test_p3_consolidation_operator(spark):
    """P3 (table_extractor.py:136-189): fuzzy-grouped tables merge into
    the largest group's canonical header order; odd tables drop."""
    from rca_pdf_extraction_pipeline_spark.operators import consolidate
    h1 = ["Core Number", "Sample Number", "Depth"]
    h2 = ["Core Number", "Sample  Number", "Depth"]   # fuzzy-same
    h3 = ["Totally", "Different", "Schema"]
    rows = [
        ("d1", 0, h1, [["1", "1-1", "9580.5"], ["1", "1-2", "9581.0"]]),
        ("d1", 1, h2, [["2", "2-1", "9590.0"]]),
        ("d1", 2, h3, [["x", "y", "z"]]),
        ("d2", 0, h3, [["a", "b", "c"]]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, table_id int, headers array<string>, "
              "rows array<array<string>>")
    out = {r["doc_id"]: r for r in consolidate.consolidate_documents(df).collect()}
    assert out["d1"]["headers"] == h1          # largest fuzzy group wins
    assert out["d1"]["n_tables"] == 3
    assert out["d1"]["n_rows"] == 3            # 2 + 1 aligned; odd table dropped
    assert [list(r) for r in out["d1"]["rows"]][2] == ["2", "2-1", "9590.0"]
    assert out["d2"]["headers"] == h3


def test_embedding_near_pairs(spark):
    import math

    def v(theta):
        return [float(math.cos(theta)), float(math.sin(theta))] + [0.01] * 6

    rows = [(0, v(0.01)), (1, v(0.03)),   # near-identical directions
            (2, v(1.5)), (3, v(3.1))]     # orthogonal-ish / opposite
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in dedup.embedding_near_pairs(df, threshold=0.9,
                                                 n_bits=2).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 3) not in pairs    # different sign bucket, never compared
    assert (0, 2) not in pairs or pairs.get((0, 2), 0) >= 0.9


# ---- trained-IVF ANN (k-means coarse quantizer) ---------------------------

@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """Two tight, well-separated clusters around (1,0,...) and (0,1,...).
    Ids interleave A/B so the two smallest-id k-means seeds (ids 0, 1)
    start one per cluster."""
    rows = []
    for i, eps in enumerate([0.00, 0.01, 0.02, -0.01]):
        rows.append((2 * i, [1.0 + eps, eps] + [0.0] * 6))      # cluster A
        rows.append((2 * i + 1, [eps, 1.0 + eps] + [0.0] * 6))  # cluster B
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_separates_clusters(clustered_vecs):
    cents = similarity.kmeans_centroids(clustered_vecs, k=2, iters=2).collect()
    assert len(cents) == 2
    # lattice scale 1000: one centroid near (1000, 0), one near (0, 1000)
    by_axis = sorted((r["cv"][0], r["cv"][1]) for r in cents)
    assert by_axis[0][0] < 100 and by_axis[0][1] > 900
    assert by_axis[1][0] > 900 and by_axis[1][1] < 100


def test_kmeans_partition_invariant(clustered_vecs):
    a = {(r["cid"], tuple(r["cv"]))
         for r in similarity.kmeans_centroids(clustered_vecs, k=2, iters=2).collect()}
    b = {(r["cid"], tuple(r["cv"]))
         for r in similarity.kmeans_centroids(
             clustered_vecs.repartition(7), k=2, iters=2).collect()}
    assert a == b


def test_ivf_topk_probes_own_cluster(clustered_vecs):
    got = similarity.ivf_topk(clustered_vecs, query_id=0, k=3,
                              n_centroids=2, nprobe=1).collect()
    # nprobe=1: only cluster-A members (even ids) are candidates
    assert {r["vec_id"] for r in got} == {2, 4, 6}
    sims = [r["cosine_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_ivf_full_probe_equals_brute_force(clustered_vecs):
    ivf = similarity.ivf_topk(clustered_vecs, query_id=0, k=5,
                              n_centroids=2).collect()
    bf = similarity.cosine_topk(clustered_vecs, query_id=0, k=5).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in ivf] == \
        [(r["vec_id"], r["cosine_sim"]) for r in bf]


def test_ivf_nprobe_guard(clustered_vecs):
    with pytest.raises(ValueError):
        similarity.ivf_topk(clustered_vecs, query_id=0, nprobe=9, n_centroids=4)


def test_kmeans_sampled_rate1_equals_full(clustered_vecs):
    """sample_rate=1.0 keeps every row, so the sampled fit must equal
    the full fit bit-for-bit (the sampling layer adds nothing but the
    deterministic membership filter)."""
    full = {(r["cid"], tuple(r["cv"]))
            for r in similarity.kmeans_centroids(
                clustered_vecs, k=2, iters=2).collect()}
    sampled = {(r["cid"], tuple(r["cv"]))
               for r in similarity.kmeans_centroids_sampled(
                   clustered_vecs, k=2, iters=2, sample_rate=1.0).collect()}
    assert sampled == full


def test_kmeans_sampled_raises_when_sample_below_k(clustered_vecs):
    """The hash sample must hold >= k vectors, or the seed LIMIT k would
    silently fit fewer centroids than requested (ADVICE r3)."""
    with pytest.raises(ValueError, match="< k="):
        similarity.kmeans_centroids_sampled(
            clustered_vecs.limit(3), k=4, sample_rate=0.5)


@pytest.fixture(scope="module")
def pq_vecs(spark):
    """Two clusters whose signal repeats in BOTH 4-dim halves, so each
    PQ subspace codebook separates them.  (An all-constant subspace
    would collapse to one codeword — Lloyd drops empty clusters, in
    this engine and in the DuckDB oracle alike.)"""
    rows = []
    for i, eps in enumerate([0.00, 0.01, 0.02, -0.01]):
        a = [1.0 + eps, eps, 0.0, 0.0]
        b = [eps, 1.0 + eps, 0.0, 0.0]
        rows.append((2 * i, a + a))      # cluster A
        rows.append((2 * i + 1, b + b))  # cluster B
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_codebooks_shape_and_determinism(pq_vecs):
    """m independent subspace codebooks: m*k rows, centroids dim/m wide,
    identical under any input partitioning (integer-lattice Lloyd)."""
    a = similarity.pq_codebooks(pq_vecs, m=2, k=2, iters=2, dim=8)
    rows = a.collect()
    assert len(rows) == 4  # m=2 subspaces x k=2 codewords
    assert all(len(r["cv"]) == 4 for r in rows)
    b = similarity.pq_codebooks(pq_vecs.repartition(7),
                                m=2, k=2, iters=2, dim=8).collect()
    assert {(r["sub"], r["cid"], tuple(r["cv"])) for r in rows} == \
        {(r["sub"], r["cid"], tuple(r["cv"])) for r in b}


def test_pq_codes_cover_every_vector_subspace(pq_vecs):
    codes = similarity.pq_codes(pq_vecs, m=2, k=2, iters=2,
                                dim=8).collect()
    # one code per (vector, subspace)
    assert len(codes) == 8 * 2
    per_vec = {}
    for r in codes:
        per_vec.setdefault(r["vec_id"], set()).add(r["sub"])
    assert all(subs == {0, 1} for subs in per_vec.values())
    # subspace 0 holds the two discriminating dims: cluster A (even ids)
    # and cluster B (odd ids) must land on different codewords there
    s0 = {r["vec_id"]: r["code"] for r in codes if r["sub"] == 0}
    assert len({s0[i] for i in (0, 2, 4, 6)}) == 1
    assert len({s0[i] for i in (1, 3, 5, 7)}) == 1
    assert s0[0] != s0[1]


def test_pq_topk_ranks_own_cluster_first(pq_vecs):
    """ADC distance to same-cluster vectors is (near) zero — cluster-A
    members fill the top slots for a cluster-A query, ties by id."""
    got = similarity.pq_topk(pq_vecs, query_id=0, k_neighbors=3,
                             m=2, k=2, dim=8).collect()
    assert [r["vec_id"] for r in got] == [2, 4, 6]
    # ADC is symmetric within the codeword cell: all three share the
    # query's codewords in both subspaces -> identical approx distance
    assert len({r["adc_d2"] for r in got}) == 1


def test_pq_dim_guard():
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks(None, m=3, k=2, dim=8)


# ---- link-graph analytics (integer-lattice PageRank) ----------------------

@pytest.fixture(scope="module")
def star_graph(spark):
    """Nodes 0-4; every outer node links to hub 0."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node_id long")
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)],
                                  "src long, dst long")
    return nodes, edges


def test_degree_census_counts_isolated_nodes(star_graph):
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes, edges = star_graph
    census = {r["in_degree"]: r["n_nodes"]
              for r in linkgraph.degree_census(nodes, edges).collect()}
    assert census == {4: 1, 0: 4}


def test_pagerank_exact_integer_values(star_graph):
    """Hand-computed 2-iteration lattice PR on the star: hub inflow is
    4 * (pr // 1); pr' = 150000 + 17*inflow // 20.
    iter1: hub = 150000 + 17*4_000_000//20 = 3_550_000, leaves 150000;
    iter2: hub = 150000 + 17*(4*150000)//20 = 660000."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes, edges = star_graph
    pr = {r["node_id"]: r["pr"]
          for r in linkgraph.pagerank(nodes, edges, iters=2).collect()}
    assert pr[0] == 660_000
    assert all(pr[i] == 150_000 for i in range(1, 5))


def test_pagerank_partition_invariant(star_graph):
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes, edges = star_graph
    a = sorted(map(tuple, linkgraph.pagerank(nodes, edges, 2).collect()))
    b = sorted(map(tuple, linkgraph.pagerank(
        nodes.repartition(5), edges.repartition(3), 2).collect()))
    assert a == b


def test_pagerank_dangling_redistribution_exact(star_graph):
    """redistribute_dangling returns the hub's (out-linkless) mass
    uniformly: hand-computed 2-iteration lattice PR on the star.
    iter1: dang=1e6, share=200000 -> hub 150000+17*4200000//20=3720000,
    leaves 150000+17*200000//20=320000.  iter2: dang=3720000,
    share=744000 -> hub 150000+17*(1280000+744000)//20=1870400, leaves
    150000+17*744000//20=782400.  Total mass is conserved exactly
    (floor remainders are zero on this graph): 1870400+4*782400=5e6,
    where the leaky default ends at 660000+4*150000 = 1.26e6."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes, edges = star_graph
    pr = {r["node_id"]: r["pr"]
          for r in linkgraph.pagerank(nodes, edges, iters=2,
                                      redistribute_dangling=True).collect()}
    assert pr[0] == 1_870_400
    assert all(pr[i] == 782_400 for i in range(1, 5))
    assert sum(pr.values()) == 5_000_000


def test_pagerank_iters_guard(star_graph):
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes, edges = star_graph
    with pytest.raises(ValueError, match="iters"):
        linkgraph.pagerank(nodes, edges, iters=0)


def test_ivf_sampled_deterministic_and_ranked(clustered_vecs):
    """Sampled-codebook IVF is a pure function of (data, params): two
    runs agree exactly, output keeps the (cosine desc, id) contract, and
    full-probe search still ranks true neighbors first."""
    a = similarity.ivf_topk_sampled(clustered_vecs, query_id=0, k=5,
                                    n_centroids=2, sample_rate=0.75).collect()
    b = similarity.ivf_topk_sampled(clustered_vecs.repartition(5), query_id=0,
                                    k=5, n_centroids=2,
                                    sample_rate=0.75).collect()
    assert [(r["vec_id"], r["cid"], r["cosine_sim"]) for r in a] == \
        [(r["vec_id"], r["cid"], r["cosine_sim"]) for r in b]
    sims = [r["cosine_sim"] for r in a]
    assert sims == sorted(sims, reverse=True)
    # cluster-A members (even ids) dominate the head of the ranking
    assert {r["vec_id"] for r in a[:3]} == {2, 4, 6}


def test_semantic_near_pairs_stay_within_cluster(clustered_vecs):
    pairs = similarity.semantic_near_pairs(
        clustered_vecs, n_centroids=2, threshold=0.9).collect()
    # near-identical vectors pair up only inside their own cluster:
    # even ids (cluster A) never pair with odd ids (cluster B)
    assert pairs
    for r in pairs:
        assert r["id_a"] % 2 == r["id_b"] % 2
        assert r["cosine_sim"] >= 0.9
    # all-pairs within each 4-member cluster = 6 pairs each
    assert len(pairs) == 12


def test_semantic_dedup_keeps_min_id_per_cluster(clustered_vecs):
    kept = similarity.semantic_dedup(
        clustered_vecs, n_centroids=2, threshold=0.9).collect()
    # every vector has a lower-id near-dup except the cluster minima
    assert {r["vec_id"] for r in kept} == {0, 1}
    assert len({r["cid"] for r in kept}) == 2


def test_hybrid_rrf_fuses_both_lists(spark):
    from rca_pdf_extraction_pipeline_spark.operators import search

    # query doc 0 has no 'alpha' so it stays out of the lexical list;
    # n_each=2 makes list membership real (not everyone-is-a-candidate)
    rows = [(0, "beta gamma delta"),
            (1, "alpha beta gamma delta"),    # both lists
            (2, "alpha alpha alpha alpha"),   # lexical only (top tf)
            (3, "beta gamma delta zeta"),     # semantic only (no 'alpha')
            (4, "omega psi")]                 # neither list
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = search.hybrid_rrf_topk(docs, ["alpha"], query_doc=0,
                                 k=5, n_each=2).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert 4 not in by_id                       # in neither candidate list
    assert by_id[2]["sem_rank"] is None         # lexical-only
    assert by_id[3]["lex_rank"] is None         # semantic-only
    r1 = by_id[1]
    assert r1["lex_rank"] is not None and r1["sem_rank"] is not None
    assert abs(r1["rrf"] - round(1 / (60 + r1["lex_rank"])
                                 + 1 / (60 + r1["sem_rank"]), 6)) < 1e-9
    scores = [r["rrf"] for r in got]
    assert scores == sorted(scores, reverse=True)
    # doc in both lists beats single-list docs: worst-case 2/(60+2) > 1/(60+1)
    assert got[0]["doc_id"] == 1


def test_bpe_token_stats_splits_subwords(spark):
    docs = spark.createDataFrame(
        [(0, "don't stop-me now2day"), (1, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bpe_tokens"], r["n_word_tokens"],
                         r["tokens_per_word"])
           for r in textanalysis.bpe_token_stats(docs).collect()}
    # don|'|t  stop|-|me  now|2|day -> 9 sub-word tokens over 3 words
    assert got[0] == (9, 3, 3.0)
    assert got[1] == (0, 0, 0.0)


# ---- bigram LM typicality --------------------------------------------------


def test_bigram_lm_sees_word_order(spark):
    # docs 0-3 establish "a b" as the typical order; doc 4 has the same
    # unigram profile as doc 0 but reversed order
    rows = [(i, "a b a b a b") for i in range(4)] + [(4, "b a b a b a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r["doc_id"]: r["mean_logprob"]
           for r in textanalysis.unigram_logprob(docs).collect()}
    assert uni[0] == uni[4]                     # unigram scorer is blind
    big = {r["doc_id"]: r["mean_logprob"]
           for r in textanalysis.bigram_logprob(docs).collect()}
    assert big[0] > big[4]                      # bigram scorer is not
    short = spark.createDataFrame([(0, "one"), (1, "")],
                                  "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
           for r in textanalysis.bigram_logprob(short).collect()}
    assert got == {0: (0, 0.0), 1: (0, 0.0)}


# ---- weighted / mixture sampling ------------------------------------------


def test_weighted_priority_sample_semantics(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = [(i, 1) for i in range(100)] + [(100, 10_000_000), (101, 0), (102, -5)]
    docs = spark.createDataFrame(rows, "doc_id long, w long")
    got = sampling.weighted_priority_sample(docs, "w", k=10, seed=1).collect()
    assert len(got) == 10
    ids = {r["doc_id"] for r in got}
    assert 100 in ids                      # overwhelming weight always wins
    assert ids.isdisjoint({101, 102})      # non-positive weights excluded
    pris = [r["priority"] for r in got]
    assert pris == sorted(pris, reverse=True)
    # deterministic under repartitioning
    again = {r["doc_id"] for r in sampling.weighted_priority_sample(
        docs.repartition(7), "w", k=10, seed=1).collect()}
    assert again == ids
    with pytest.raises(ValueError):
        sampling.weighted_priority_sample(docs, "w", k=0)


def test_mixture_sample_targets(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = [(i, "a" if i < 100 else "b" if i < 200 else "c") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = sampling.mixture_sample(docs, "source",
                                  {"a": 30, "b": 1000}, seed=2).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert set(by_src) == {"a", "b"}            # 'c' not in the recipe
    assert len(by_src["b"]) == 100              # target > size: keep all
    assert 15 <= len(by_src["a"]) <= 45         # ~30 of 100 by hash cut
    with pytest.raises(ValueError):
        sampling.mixture_sample(docs, "source", {"a": -1})


# ---- gap-based sessionization ---------------------------------------------


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    from rca_pdf_extraction_pipeline_spark.operators import sessions

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [(1, t(0), 1.0), (1, t(10), 2.0),   # chain (gap 10 < 30)
            (1, t(40), 4.0),   # exactly at prev close (10+30): still chains
            (1, t(41), 5.0),   # 41 - 40 = 1 < 30: chains
            (2, t(5), 8.0),
            (2, t(45), 9.0)]   # 45 - 5 = 40 > 30: new session
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sorted(((r["user_id"], r["session_start"].minute,
                   r["session_end"].minute + 60 * r["session_end"].hour,
                   r["n_events"], r["total_value"])
                  for r in sessions.sessionize(ev, gap_minutes=30).collect()))
    assert got == [(1, 0, 71, 4, 12.0),   # closes at 41-min event + 30-min gap
                   (2, 5, 35, 1, 8.0),
                   (2, 45, 75, 1, 9.0)]
    with pytest.raises(ValueError):
        sessions.sessionize(ev, gap_minutes=0)


# ---- vocabulary construction ----------------------------------------------


def test_vocabulary_counts_and_topv(spark):
    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "a b b"), (2, "c")],
        "doc_id long, text string")
    freq = {r["token"]: (r["tf"], r["df"])
            for r in textanalysis.vocabulary(docs).collect()}
    assert freq == {"a": (3, 2), "b": (3, 2), "c": (2, 2)}
    # top_v=2 with tf tie between a and b -> ascending-token tie-break
    top = textanalysis.vocabulary(docs, top_v=2).collect()
    assert [r["token"] for r in top] == ["a", "b"]
    assert [r["token"] for r in textanalysis.vocabulary(docs, min_count=3)
            .orderBy("token").collect()] == ["a", "b"]


def test_vocab_coverage_arithmetic(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b b c")], "doc_id long, text string")
    row = textanalysis.vocab_coverage(docs, top_v=2).collect()[0]
    assert (row["vocab_size"], row["total_tokens"], row["covered_tokens"]) \
        == (3, 6, 5)
    assert abs(row["oov_rate"] - (1 - 5 / 6)) < 1e-6


# ---- hashing-trick text embeddings ----------------------------------------


def test_hashed_embedding_dim_guard(corpus):
    with pytest.raises(ValueError):
        embedding.embed_documents(corpus, dim=12)


def test_hashed_embedding_unit_norm_and_dup_recovery(spark):
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),   # exact dup
            (2, "the quick brown fox leaps over the lazy dog"),   # near dup
            (3, "completely different words about spark shuffles")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    embs = embedding.embed_documents(docs, dim=16)
    got = {r["doc_id"]: r["embedding"] for r in embs.collect()}
    for v in got.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4   # unit sphere
    assert got[0] == got[1]                              # deterministic
    top = similarity.cosine_topk(embs, query_id=0, k=3, id_col="doc_id").collect()
    assert top[0]["doc_id"] == 1 and top[0]["cosine_sim"] == 1.0
    assert top[1]["doc_id"] == 2 and top[1]["cosine_sim"] > top[2]["cosine_sim"]


def test_hashed_embedding_unnormalized_is_signed_count(spark):
    docs = spark.createDataFrame([(0, "a b a")], "doc_id long, text string")
    v = embedding.embed_documents(docs, dim=8, normalize=False).collect()[0]["embedding"]
    # 3 tokens, each contributing ±1 to one coordinate
    assert sum(abs(x) for x in v) <= 3
    assert all(isinstance(x, int) for x in v)


# ---- deterministic sampling / splits --------------------------------------

@pytest.fixture(scope="module")
def id_frame(spark):
    return spark.createDataFrame([(i,) for i in range(200)], "doc_id long")


def test_hash_sample_deterministic_and_partition_invariant(id_frame):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    a = sorted(r.doc_id for r in sampling.hash_sample(id_frame, 0.3).collect())
    b = sorted(r.doc_id for r in
               sampling.hash_sample(id_frame.repartition(13), 0.3).collect())
    assert a == b and 0 < len(a) < 200
    # close to the nominal rate on 200 ids
    assert 0.15 < len(a) / 200 < 0.45
    # different seed -> different (deterministic) subset
    c = sorted(r.doc_id for r in
               sampling.hash_sample(id_frame, 0.3, seed=99).collect())
    assert c != a
    # rate bounds
    with pytest.raises(ValueError):
        sampling.hash_sample(id_frame, 1.5)


def test_split_disjoint_exhaustive(id_frame):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = sampling.train_val_test_split(id_frame).collect()
    assert len(rows) == 200
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) == {"train", "val", "test"}
    total = sum(len(v) for v in by_split.values())
    assert total == 200  # exhaustive, disjoint (ids unique)
    assert len(by_split["train"]) > len(by_split["val"])
    with pytest.raises(ValueError):
        sampling.train_val_test_split(id_frame, weights=(0.5, 0.2, 0.2))


def test_stratified_rates(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = [(i, "en" if i % 2 else "de") for i in range(400)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_hash_sample(
        d, "lang", rates={"de": 1.0, "en": 0.0}).collect()
    langs = {r["lang"] for r in out}
    assert langs == {"de"} and len(out) == 200


def test_corpus_profile_exact_percentiles(spark):
    from rca_pdf_extraction_pipeline_spark.operators import profiling

    rows = [(i, "a", v) for i, v in enumerate([10, 20, 30, 40, 100])] + \
           [(10 + i, "b", 7) for i in range(3)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = {r["lang"]: r for r in profiling.corpus_profile(d).collect()}
    a = out["a"]
    assert (a["n_docs"], a["min_val"], a["max_val"]) == (5, 10, 100)
    assert a["p50"] == 30          # discrete: an actual data value
    assert a["p99"] == 100
    assert a["mean_val"] == 40.0
    b = out["b"]
    assert b["p25"] == b["p50"] == b["p75"] == 7


def test_histogram_quantiles_error_bound_and_determinism(spark):
    """The histogram quantile reports its bucket's lower bound: it may
    sit BELOW the exact discrete percentile by at most one bucket width,
    never above it; endpoints are exact; the rows are invariant under
    repartitioning (pure integer arithmetic)."""
    from rca_pdf_extraction_pipeline_spark.operators import profiling

    vals_a = [10, 20, 30, 40, 100, 55, 61, 7, 93, 88]
    rows = [(i, "a", v) for i, v in enumerate(vals_a)] + \
           [(100 + i, "b", 7) for i in range(3)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    n_buckets = 16
    out = {r["lang"]: r
           for r in profiling.histogram_quantiles(d, n_buckets=n_buckets).collect()}
    a = out["a"]
    assert (a["n_docs"], a["min_val"], a["max_val"]) == (10, 7, 100)
    width = (100 - 7 + 1) / n_buckets
    sv = sorted(vals_a)
    for pct in (25, 50, 75, 90, 99):
        exact = sv[-(-len(sv) * pct // 100) - 1]  # percentile_disc rank
        est = a[f"p{pct}_lo"]
        assert est <= exact < est + width, (pct, est, exact)
    b = out["b"]
    assert b["p25_lo"] == b["p99_lo"] == b["min_val"] == 7

    again = profiling.histogram_quantiles(
        d.repartition(7), n_buckets=n_buckets).collect()
    assert sorted(map(tuple, again)) == sorted(
        map(tuple, profiling.histogram_quantiles(d, n_buckets=n_buckets).collect()))


def test_incremental_pairs_match_batch_restriction(spark):
    """Incremental batch-vs-index candidates == the full-corpus candidate
    pairs restricted to (odd, even) id pairs — the index side is never
    re-shingled, only joined."""
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = dedup.minhash_candidate_pairs(docs).collect()
    expected = sorted(
        {(a, b) if a % 2 == 1 else (b, a)
         for a, b in ((r["id_a"], r["id_b"]) for r in full)
         if (a % 2) != (b % 2)})

    idx = dedup.minhash_band_keys(docs.filter("doc_id % 2 = 0"))
    got = dedup.incremental_candidate_pairs(
        docs.filter("doc_id % 2 = 1"), idx).collect()
    assert sorted((r["new_id"], r["indexed_id"]) for r in got) == expected


def test_cc_best_keeps_highest_score_not_lowest_id(spark):
    """Quality-priority CC dedup keeps the argmax-score doc of each
    component (ties -> lowest id), where keep-min-id would keep doc 0;
    isolated docs always survive."""
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    # identical text (mirrored page) => identical signatures => the
    # band collision is deterministic, not an S-curve coin flip
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, 10),                        # component {0,1,2}
        (1, base, 99),                        # highest score -> survivor
        (2, base, 50),
        (3, "completely different text with nothing shared at all", 1),
        (4, "another unique document about unrelated matters entirely", 7),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, score long")
    best = sorted(r["doc_id"] for r in
                  dedup.deduplicate_corpus_cc_best(
                      d, score_col="score", jaccard_threshold=0.5).collect())
    assert best == [1, 3, 4]
    # keep-min-id policy on the same corpus keeps 0 — different survivor
    minid = sorted(r["doc_id"] for r in
                   dedup.deduplicate_corpus_cc(
                       d, jaccard_threshold=0.5).collect())
    assert minid == [0, 3, 4]
    # tie on score -> lowest id wins
    tied = spark.createDataFrame(
        [(5, base, 10), (6, base, 10)], "doc_id long, text string, score long")
    got = sorted(r["doc_id"] for r in
                 dedup.deduplicate_corpus_cc_best(
                     tied, score_col="score", jaccard_threshold=0.5).collect())
    assert got == [5]
    # string doc ids work too (the tie-break ranks, never negates the
    # id — ADVICE r4: arithmetic negation silently required numeric ids)
    s = spark.createDataFrame(
        [("doc-a", base, 10), ("doc-b", base, 99), ("doc-c", base, 99),
         ("doc-z", "totally unrelated text with no shared shingles", 1)],
        "doc_id string, text string, score long")
    got_s = sorted(r["doc_id"] for r in
                   dedup.deduplicate_corpus_cc_best(
                       s, score_col="score", jaccard_threshold=0.5).collect())
    assert got_s == ["doc-b", "doc-z"]


def test_epoch_shards_total_permutation_and_determinism(spark):
    """Every doc appears exactly once; positions are contiguous from 0
    per shard; the permutation is invariant under repartitioning and
    differs between epochs."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sampling.epoch_shards(docs, n_shards=4, epoch=1).collect()
    assert len(out) == 500
    assert len({r["doc_id"] for r in out}) == 500
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard

    again = sampling.epoch_shards(docs.repartition(13), n_shards=4,
                                  epoch=1).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    other = sampling.epoch_shards(docs, n_shards=4, epoch=2).collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))
    assert len({r["doc_id"] for r in other}) == 500  # still total


def test_asof_join_semantics(spark):
    import datetime as dt

    from rca_pdf_extraction_pipeline_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, T(10), "L10"), (1, T(20), "L20"), (1, T(5), "L5"),
         (2, T(30), "L30")],
        "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, T(8), "R8"), (1, T(10), "R10"), (1, T(15), "R15"),
         (3, T(1), "R1")],
        "user_id long, ts timestamp, rtag string")
    out = {r["tag"]: r for r in
           asof_join(left, right, on="user_id").collect()}
    assert out["L5"]["matched_rtag"] is None          # nothing precedes t=5
    assert out["L10"]["matched_rtag"] == "R10"        # <= bound: equal ts OK
    assert out["L20"]["matched_rtag"] == "R15"        # latest preceding
    assert out["L30"]["matched_rtag"] is None         # user 2 has no rights
    assert len(out) == 4                              # every left row kept


def test_asof_join_partition_invariant(spark):
    import datetime as dt

    from rca_pdf_extraction_pipeline_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(u, T(s), u * 100 + s) for u in range(5) for s in (10, 20, 30)],
        "user_id long, ts timestamp, lid long")
    right = spark.createDataFrame(
        [(u, T(s), u * 1000 + s) for u in range(5) for s in (5, 15, 25)],
        "user_id long, ts timestamp, rid long")
    a = sorted(tuple(r) for r in asof_join(left, right, "user_id").collect())
    b = sorted(tuple(r) for r in asof_join(
        left.repartition(7), right.repartition(3), "user_id").collect())
    assert a == b
    assert all(r[-1] is not None for r in a)  # every left has a match here


def test_asof_join_matches_pandas_merge_asof(spark):
    """Cross-library reference: pandas merge_asof (direction='backward',
    allow_exact_matches=True) implements the same <= as-of semantics."""
    import datetime as dt
    import random

    import pandas as pd

    from rca_pdf_extraction_pipeline_spark.operators.asof import asof_join

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        base = dt.datetime(2024, 1, 1)
        secs = rng.sample(range(100000), 260)
        lrows = [(rng.randint(0, 6), base + dt.timedelta(seconds=s), i)
                 for i, s in enumerate(secs[:130])]
        rrows = [(rng.randint(0, 6), base + dt.timedelta(seconds=s), 1000 + i)
                 for i, s in enumerate(secs[130:])]
        left = spark.createDataFrame(lrows, "k long, ts timestamp, lid long")
        right = spark.createDataFrame(rrows, "k long, ts timestamp, rid long")

        got = {r["lid"]: r["matched_rid"]
               for r in asof_join(left, right, on="k").collect()}

        lp = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
        rp = pd.DataFrame(rrows, columns=["k", "ts", "rid"]).sort_values("ts")
        ref = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward",
                            allow_exact_matches=True)
        want = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
                for r in ref.itertuples()}
        assert got == want, f"seed={seed}"


def test_per_group_sample_exact_k(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = [(i, "g%d" % (i % 3)) for i in range(90)] + [(1000, "tiny")]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.per_group_sample(d, "lang", k=7).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["lang"], []).append(r["doc_id"])
    assert {g: len(v) for g, v in by_g.items()} == \
        {"g0": 7, "g1": 7, "g2": 7, "tiny": 1}
    # deterministic under repartition
    out2 = sampling.per_group_sample(d.repartition(9), "lang", k=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    with pytest.raises(ValueError):
        sampling.per_group_sample(d, "lang", k=0)


def test_inverted_index_postings_and_cap(spark):
    from rca_pdf_extraction_pipeline_spark.operators import search

    rows = [(3, "b a a"), (1, "a b"), (2, "a c"), (4, "c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["term"]: r for r in
           search.inverted_index(docs, max_postings=2).collect()}
    a = got["a"]
    assert (a["df"], a["total_tf"]) == (3, 4)
    assert a["postings"] == "1:1,2:1" and a["postings_len"] == 2  # capped
    assert got["b"]["postings"] == "1:1,3:1"
    assert got["c"]["postings"] == "2:1,4:1"
    # min_df prunes the hapax tail
    only = search.inverted_index(docs, min_df=2).select("term").collect()
    assert {r["term"] for r in only} == {"a", "b", "c"}


def test_source_tfidf_surfaces_distinctive_terms(spark):
    from rca_pdf_extraction_pipeline_spark.operators import profiling

    rows = [(0, "common words plus quantum quantum", "s0"),
            (1, "common words plus farming", "s1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = profiling.source_tfidf_terms(docs, top_k=2).collect()
    top = {r["source"]: [x for x in got if x["source"] == r["source"]]
           for r in got}
    s0 = sorted(top["s0"], key=lambda r: r["rank"])
    assert s0[0]["term"] == "quantum" and s0[0]["tf"] == 2
    assert s0[0]["tfidf"] > 0
    assert top["s1"][0]["term"] == "farming"
    # shared vocabulary scores ln(2/2)=0, never outranks distinctive terms
    assert all(r["tfidf"] == 0 for r in got if r["term"] == "common")


def test_hll_estimate_accuracy_and_merge_invariance(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    df = spark.range(20000).select(
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    est = sketches.hll_estimate(sketches.hll_registers(df, "v")).collect()
    assert abs(est[0]["est_distinct"] - 20000) / 20000 < 0.05  # ~3 sigma
    # estimate is a pure function of the value set: partitioning and
    # duplication must not move it by a single bit
    noisy = df.repartition(23).unionAll(df.limit(5000))
    est2 = sketches.hll_estimate(sketches.hll_registers(noisy, "v")).collect()
    assert est2 == est
    # register tables merge by bucket-wise max: half+half == whole
    lo, hi = df.filter("id < 10000"), df.filter("id >= 10000")
    merged = (sketches.hll_registers(lo, "v")
              .unionByName(sketches.hll_registers(hi, "v"))
              .groupBy("bucket").agg(F.max("max_rank").alias("max_rank")))
    est3 = sketches.hll_estimate(merged).collect()
    assert est3 == est


def test_hll_small_range_uses_linear_counting(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    df = spark.range(50).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    est = sketches.hll_estimate(sketches.hll_registers(df, "v")).collect()
    assert abs(est[0]["est_distinct"] - 50) < 2   # linear counting is tight
    with pytest.raises(ValueError, match=r"p must be"):
        sketches.hll_registers(df, "v", p=25)


def test_hll_cms_ignore_nulls(spark):
    """Sketches follow countDistinct's NULL semantics: NULL values never
    register (an unfiltered md5(NULL) row would shrink the empty-register
    count and bias the HLL estimate)."""
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    clean = spark.range(200).select(
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    dirty = clean.unionByName(
        spark.range(7).select(F.lit(None).cast("string").alias("v")))
    assert (sketches.hll_estimate(sketches.hll_registers(dirty, "v")).collect()
            == sketches.hll_estimate(sketches.hll_registers(clean, "v")).collect())
    assert (sorted(sketches.cms_counters(dirty, "v").collect())
            == sorted(sketches.cms_counters(clean, "v").collect()))


def test_hll_small_p_alpha_constants(spark):
    """p in [4,6] uses the paper's dedicated alpha (0.673/0.697/0.709);
    the closed-form p>=7 constant would bias these precisions."""
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    df = spark.range(100000).select(
        F.concat(F.lit("n"), F.col("id")).alias("v"))
    for p, sigma in ((4, 0.26), (5, 0.185), (6, 0.131)):
        est = sketches.hll_estimate(
            sketches.hll_registers(df, "v", p=p), p=p).collect()
        rel = abs(est[0]["est_distinct"] - 100000) / 100000
        assert rel < 3 * sigma, f"p={p}: rel err {rel:.3f}"


def test_cms_overestimates_and_merges(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    rows = [(f"w{i % 7}",) for i in range(100)] + [("rare",)]
    df = spark.createDataFrame(rows, "v string")
    # narrow sketch (width=8) to force collisions: est >= exact, never <
    got = {r["value"]: r for r in sketches.token_counts_with_cms(
        df.select(F.col("v").alias("text")), depth=2, width=8).collect()}
    assert all(r["est_count"] >= r["exact_count"] for r in got.values())
    assert got["rare"]["exact_count"] == 1
    # wide sketch: no collisions at this cardinality -> exact recovery
    wide = sketches.token_counts_with_cms(
        df.select(F.col("v").alias("text"))).collect()
    assert all(r["est_count"] == r["exact_count"] for r in wide)
    # counter tables merge by bucket-wise sum: half + half == whole
    c_all = sketches.cms_counters(df, "v")
    lo = sketches.cms_counters(spark.createDataFrame(rows[:50], "v string"), "v")
    hi = sketches.cms_counters(spark.createDataFrame(rows[50:], "v string"), "v")
    merged = (lo.unionByName(hi).groupBy("row", "bucket")
              .agg(F.sum("cnt").alias("cnt")))
    assert sorted(merged.collect()) == sorted(c_all.collect())
    with pytest.raises(ValueError, match="depth"):
        sketches.cms_counters(df, "v", depth=0)


def test_new_ops_tolerate_null_and_empty_text(spark):
    """Nulls and empty strings must drop out of token-derived operators,
    never crash or fabricate rows."""
    from rca_pdf_extraction_pipeline_spark.operators import (
        profiling,
        search,
        sketches,
    )

    rows = [(1, "alpha beta", "s0"), (2, None, "s0"), (3, "", "s1"),
            (4, "   ", "s1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    idx = {r["term"]: r for r in search.inverted_index(docs).collect()}
    assert set(idx) == {"alpha", "beta"}
    assert idx["alpha"]["postings"] == "1:1"
    tfidf = profiling.source_tfidf_terms(docs, top_k=3).collect()
    assert {r["source"] for r in tfidf} == {"s0"}   # s1 has no tokens
    hll = sketches.hll_estimate(
        sketches.hll_registers(
            docs.select(F.explode(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            ).alias("v")), "v")).collect()
    assert abs(hll[0]["est_distinct"] - 2) < 0.1


def test_cluster_profile_partitions_population_exactly(vectors):
    got = similarity.cluster_profile(vectors, n_centroids=2).collect()
    assert [r["cid"] for r in got] == sorted(r["cid"] for r in got)
    assert sum(r["n_vecs"] for r in got) == 5      # every vector assigned once
    assigned = {r["vec_id"]: r["cid"] for r in
                similarity.assign_centroids(vectors, n_centroids=2).collect()}
    from collections import Counter
    by_cid = Counter(assigned.values())
    assert {r["cid"]: r["n_vecs"] for r in got} == dict(by_cid)
    # integer inertia: avg_d2 * n == inertia exactly (order-free sum)
    for r in got:
        assert r["inertia"] >= 0
        assert abs(r["avg_d2"] * r["n_vecs"] - r["inertia"]) < 0.5


def test_bloom_no_false_negatives_and_merge(spark):
    """Bloom contract: every inserted value tests maybe_present=True (no
    false negatives) at any m/k; per-partition filters merged by word-
    wise BIT_OR equal the whole-corpus filter; word values stay within
    unsigned-32 range (the no-sign-bit design)."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import sketches

    vals = spark.createDataFrame(
        [(f"tok{i}",) for i in range(200)], "value string")
    words = sketches.bloom_words(vals, "value", m_bits=1024, k=3)
    member = sketches.bloom_contains(words, vals, "value",
                                     m_bits=1024, k=3).collect()
    assert all(r["maybe_present"] for r in member) and len(member) == 200

    # merge == whole: build on two halves, OR the word tables
    a = sketches.bloom_words(vals.where("value < 'tok2'"), "value", 1024, 3)
    b = sketches.bloom_words(vals.where("value >= 'tok2'"), "value", 1024, 3)
    merged = (a.unionByName(b).groupBy("word_idx")
              .agg(F.bit_or("word").alias("word")))
    whole = {(r["word_idx"], r["word"]) for r in words.collect()}
    assert {(r["word_idx"], r["word"]) for r in merged.collect()} == whole

    for r in words.collect():
        assert 0 < r["word"] <= 0xFFFFFFFF
        assert 0 <= r["word_idx"] < 1024 // 32


def test_bloom_absent_values_and_guards(spark):
    """Absent probes come back False at a realistic fill ratio, and the
    m/k guards fail loudly."""
    import pytest

    from rca_pdf_extraction_pipeline_spark.operators import sketches

    vals = spark.createDataFrame(
        [(f"tok{i}",) for i in range(50)], "value string")
    words = sketches.bloom_words(vals, "value", m_bits=16384, k=4)
    probes = spark.createDataFrame(
        [("tok7",), ("definitely_absent_x",), ("definitely_absent_y",)],
        "value string")
    got = {r["probe"]: r["maybe_present"]
           for r in sketches.bloom_contains(words, probes, "value",
                                            16384, 4).collect()}
    assert got["tok7"] is True
    # fill ratio ~ 50*4/16384 => FP ~ 2e-8; absent probes are False
    assert got["definitely_absent_x"] is False
    assert got["definitely_absent_y"] is False

    with pytest.raises(ValueError):
        sketches.bloom_words(vals, "value", m_bits=100, k=4)  # not mult of 32
    with pytest.raises(ValueError):
        sketches.bloom_words(vals, "value", m_bits=1024, k=0)


def test_bloom_false_positive_rate_at_half_fill(spark):
    """At n = 2,840 values in m = 16,384 bits with k = 4 hashes the
    expected fill 1 - e^(-kn/m) is 0.500, so the false-positive rate
    should be (1 - e^(-kn/m))^k = 0.0625.  20,000 absent probes measure
    it; the md5 hashes make the figure deterministic (0.0651 here), and
    the tolerance is 4 binomial standard errors (0.0068)."""
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    m, k, n, n_probes = 16384, 4, 2840, 20000
    vals = spark.range(n).select(F.concat(F.lit("tok"), "id").alias("value"))
    probes = spark.range(n_probes).select(
        F.concat(F.lit("absent"), "id").alias("value"))
    words = sketches.bloom_words(vals, "value", m_bits=m, k=k)
    got = sketches.bloom_contains(words, probes, "value", m, k)
    r = got.agg(F.count("*").alias("n"),
                F.sum(F.col("maybe_present").cast("int")).alias("fp")).first()
    assert r["n"] == n_probes
    expected = (1 - math.exp(-k * n / m)) ** k
    assert abs(expected - 0.0625) < 1e-3
    se = math.sqrt(expected * (1 - expected) / n_probes)
    assert abs(r["fp"] / n_probes - expected) <= 4 * se, r["fp"] / n_probes


def test_dsir_topk_selects_target_like_docs(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    # 20-token docs: per-doc importance-weight gap between look-alike and
    # off-domain candidates is ~60 nats, far above the Gumbel noise span
    # (max ~16 nats), so the selection is forced regardless of seed
    tgt = " ".join(["alpha beta"] * 10)
    off = " ".join(["zeta eta theta iota"] * 5)
    rows = ([(i, tgt, "tgt") for i in range(20)]
            + [(100 + i, tgt, "web") for i in range(5)]
            + [(200 + i, off, "web") for i in range(5)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    got = sampling.dsir_topk(docs, "tgt", k=5, n_buckets=4096, seed=0).collect()
    assert {r["doc_id"] for r in got} == {100, 101, 102, 103, 104}
    # keys ordered descending, logw of look-alikes strictly above off-domain
    keys = [r["dsir_key"] for r in got]
    assert keys == sorted(keys, reverse=True)

    # the target slice itself is never selected; k above the candidate
    # count returns every candidate
    allc = sampling.dsir_topk(docs, "tgt", k=25, n_buckets=4096, seed=0).collect()
    assert len(allc) == 10
    assert all(r["doc_id"] >= 100 for r in allc)
    lw = {r["doc_id"]: r["dsir_logw"] for r in allc}
    assert min(lw[i] for i in range(100, 105)) > max(lw[i] for i in range(200, 205))

    # deterministic at any parallelism
    again = sampling.dsir_topk(docs.repartition(13), "tgt", k=5,
                               n_buckets=4096, seed=0).collect()
    assert {r["doc_id"] for r in again} == {100, 101, 102, 103, 104}

    with pytest.raises(ValueError):
        sampling.dsir_topk(docs, "tgt", k=0)
    with pytest.raises(ValueError):
        sampling.dsir_topk(docs, "tgt", k=5, n_buckets=1)


# ---------------------------------------------------------------------------
# corpus drift (snapshot-to-snapshot distribution shift)
# ---------------------------------------------------------------------------


def test_corpus_drift_flags_shifted_token(spark):
    """A token that exists only in the new snapshot must rank first by
    |log_ratio|, with its counts split correctly across snapshots."""
    from rca_pdf_extraction_pipeline_spark.functions import hashing as H
    from rca_pdf_extraction_pipeline_spark.operators.profiling import corpus_drift

    common = "alpha beta gamma delta"
    old = spark.createDataFrame(
        [(i, common) for i in range(20)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(i, common) for i in range(20)]
        + [(100 + i, "zeta zeta zeta zeta zeta zeta") for i in range(10)],
        "doc_id long, text string")
    out = corpus_drift(old, new, n_buckets=64, top_k=5).collect()
    zeta_bucket = spark.range(1).select(
        (H.hash32(F.lit("zeta")) % 64).alias("b")).collect()[0].b
    assert out[0].bucket == zeta_bucket
    assert out[0].n_old == 0 and out[0].n_new == 60
    assert out[0].log_ratio > 0          # probability went UP in new
    # identical snapshots: every bucket's log_ratio magnitude is the
    # pure totals-smoothing residue -> l1_term exactly 0 everywhere
    same = corpus_drift(old, old, n_buckets=64, top_k=5).collect()
    assert all(r.l1_term == 0.0 for r in same)


def test_corpus_drift_guards():
    from rca_pdf_extraction_pipeline_spark.operators.profiling import corpus_drift

    with pytest.raises(ValueError, match="n_buckets"):
        corpus_drift(None, None, n_buckets=1)
    with pytest.raises(ValueError, match="top_k"):
        corpus_drift(None, None, top_k=0)


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------


def _ref_bpe(texts, k):
    """Independent pure-Python Sennrich BPE (explicit symbol-list scan,
    no string-encoding trick) — the semantic cross-check for bpe_train."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.split():
            if w:
                vocab[tuple(list(w) + ["</w>"])] += 1
    merges = []
    for _ in range(k):
        pc = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        m = max(pc.values())
        best = sorted(p for p, c in pc.items() if c == m)[0]
        merges.append((best[0], best[1], pc[best]))
        new_vocab = Counter()
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_independent_reference(spark):
    from rca_pdf_extraction_pipeline_spark.operators import bpe

    texts = ["low low low low low lower lower newest newest newest",
             "newest newest newest widest widest widest new new hug"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = [(r.left, r.right, r.pair_count)
           for r in bpe.bpe_train(docs, 8).collect()]
    assert got == _ref_bpe(texts, 8)
    # ranks are 1..k in learning order
    assert [r.rank for r in bpe.bpe_train(docs, 3).collect()] == [1, 2, 3]


def test_bpe_apply_order_and_fallback(spark):
    from rca_pdf_extraction_pipeline_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low lower für low")], "doc_id long, text string")
    out = bpe.bpe_apply(docs, [("l", "o"), ("lo", "w"), ("low", "</w>")]) \
        .collect()[0]
    # word order preserved through the shuffle; non-ASCII word passes
    # through as one NUL-flagged unknown token
    assert out.bpe_tokens[0] == "low</w>"
    assert out.bpe_tokens[-1] == "low</w>"
    assert "\x00für" in out.bpe_tokens
    assert out.n_bpe_tokens == len(out.bpe_tokens)


def test_bpe_guards():
    from rca_pdf_extraction_pipeline_spark.operators import bpe

    with pytest.raises(ValueError, match="n_merges"):
        bpe.bpe_train(None, 0)
    with pytest.raises(ValueError, match=r"\|"):
        bpe.bpe_apply(None, [("a|b", "c")])


def test_corpus_drift_empty_snapshot_is_graceful(spark):
    """An empty snapshot (e.g. a filter that matched nothing) must not
    divide by zero under ANSI mode: p is 0 on the empty side, the
    smoothed log_ratio still orders buckets."""
    from rca_pdf_extraction_pipeline_spark.operators.profiling import corpus_drift

    old = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    empty = old.filter("doc_id < 0")
    out = corpus_drift(old, empty, n_buckets=16, top_k=4).collect()
    assert len(out) > 0
    assert all(r.n_new == 0 for r in out)
    assert all(r.log_ratio < 0 for r in out)   # everything vanished


def test_charset_profile_counts_exactly(spark):
    from rca_pdf_extraction_pipeline_spark.operators.textanalysis import (
        charset_profile,
    )

    docs = spark.createDataFrame(
        [(1, "s1", "Ab1 ,\tü"), (2, "s1", ""), (3, "s2", "xyz")],
        "doc_id long, source string, text string")
    rows = {r.source: r for r in charset_profile(docs).collect()}
    s1 = rows["s1"]
    # "Ab1 ,\tü": 2 letters, 1 digit, 2 spaces (space + tab), 1 punct,
    # 1 non-ascii, 7 chars total; the empty doc adds zeros only
    assert (s1.n_docs, s1.n_chars, s1.letters, s1.digits, s1.spaces,
            s1.other_ascii, s1.non_ascii) == (2, 7, 2, 1, 2, 1, 1)
    s2 = rows["s2"]
    assert (s2.letters, s2.non_ascii, s2.letter_ratio) == (3, 0, 1.0)
    # census is exhaustive by construction
    for r in rows.values():
        assert r.letters + r.digits + r.spaces + r.other_ascii \
            + r.non_ascii == r.n_chars


def test_bpe_untrainable_corpus_is_graceful(spark):
    """A corpus with no trainable words (non-ASCII / pipes only) yields
    an empty merge table, not an error; bpe_apply with no merges is
    plain character tokenization."""
    from rca_pdf_extraction_pipeline_spark.operators import bpe

    docs = spark.createDataFrame([(1, "für | ||")],
                                 "doc_id long, text string")
    assert bpe.bpe_train(docs, 3).count() == 0
    out = bpe.bpe_apply(
        spark.createDataFrame([(1, "ab")], "doc_id long, text string"),
        []).collect()[0]
    assert out.bpe_tokens == ["a", "b", "</w>"]


def test_vocab_overlap_hll_monoid_and_sanity(spark):
    """est_union from merged registers must EQUAL the direct estimate
    over the concatenated corpora (HLL is a monoid — merge loses
    nothing), and the inclusion-exclusion overlap tracks the true
    intersection on constructed vocabularies."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import sketches as S

    # A: tokens 0..399; B: tokens 200..599 -> |A|=|B|=400, overlap 200
    rows = [(i, "a", f"tok{i % 400}") for i in range(400)] \
        + [(1000 + i, "b", f"tok{200 + i % 400}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = S.vocab_overlap_by_group(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.group_a, r.group_b) == ("a", "b")
    # sketch error at p=12 over 400-element sets is a few percent
    assert abs(r.est_a - 400) / 400 < 0.1
    assert abs(r.est_overlap - 200) / 200 < 0.2
    # monoid: union estimate == direct estimate over relabeled union
    both = docs.withColumn("lang", F.lit("u"))
    direct = S.hll_estimate(
        S.hll_registers(
            both.select(F.col("lang").alias("grp"),
                        F.explode(F.split("text", " ")).alias("tok")),
            "tok", ("grp",)), ("grp",)).collect()[0]["est_distinct"]
    assert r.est_union == direct


def test_cohort_retention_and_active_users_hand_check(spark):
    """Constructed 3-user event log with known cohorts: retention and
    rolling active-user counts match hand arithmetic."""
    from rca_pdf_extraction_pipeline_spark.operators import sessions

    rows = [
        # u1: weeks 0, 1, 2 ; u2: weeks 0, 2 ; u3: week 1 only
        (1, "2024-01-01 10:00:00"), (1, "2024-01-08 10:00:00"),
        (1, "2024-01-16 10:00:00"),
        (2, "2024-01-02 00:00:01"), (2, "2024-01-15 23:59:59"),
        (3, "2024-01-09 12:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string") \
        .selectExpr("user_id", "cast(ts_s as timestamp) AS ts")
    ret = {(r.cohort_period, r.period_offset):
           (r.n_active, r.cohort_size, r.retention)
           for r in sessions.cohort_retention(ev).collect()}
    assert ret[(0, 0)] == (2, 2, 1.0)       # u1, u2 start week 0
    assert ret[(0, 1)] == (1, 2, 0.5)       # only u1 back in week 1
    assert ret[(0, 2)] == (2, 2, 1.0)       # both back in week 2
    assert ret[(1, 0)] == (1, 1, 1.0)       # u3's own cohort
    assert len(ret) == 4

    au = {r.day: (r.dau, r.wau)
          for r in sessions.active_users(ev).collect()}
    assert au[0] == (1, 1)                  # day 0: u1
    assert au[1] == (1, 2)                  # day 1: u2; window {u1, u2}
    assert au[7] == (1, 2)                  # day 7: u1; window {u1(d7), u2(d1)}
    assert au[8] == (1, 2)                  # day 8: u3; window {u1, u3}


def test_jl_projection_preserves_cosine_approximately(spark):
    """Sign-projection sanity: identical vectors stay identical, near
    vectors stay near, orthogonal-ish vectors stay far — and the
    projection is a pure function (re-running gives identical rows)."""
    import math

    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import similarity as S

    rng_rows = []
    base = [math.sin(i * 0.7) for i in range(64)]
    near = [v + (0.01 if i % 7 == 0 else 0.0) for i, v in enumerate(base)]
    other = [math.cos(i * 1.3) for i in range(64)]
    for vid, v in [(0, base), (1, near), (2, other), (3, base)]:
        rng_rows.append((vid, [float(x) for x in v]))
    embs = spark.createDataFrame(rng_rows,
                                 "vec_id long, embedding array<float>")
    top = S.jl_topk(embs, query_id=0, k=3).collect()
    assert top[0].vec_id == 3                      # identical copy first
    assert top[0].proj_cosine == 1.0
    assert top[1].vec_id == 1                      # near second
    assert top[1].proj_cosine > top[2].proj_cosine
    # determinism: the content-addressed matrix reprojects identically
    a = sorted(map(tuple, S.project_embeddings(embs).collect()))
    b = sorted(map(tuple, S.project_embeddings(embs).collect()))
    assert a == b


# ---- batch k-NN join + int8 scalar quantization (round 5) -----------------

def test_knn_join_matches_single_query_ivf(clustered_vecs):
    """Per query, the batch join's neighbor list must equal the
    one-query-per-plan ivf_topk with identical parameters — the batch
    path changes the orchestration, never the ranking."""
    qs = clustered_vecs.filter("vec_id IN (0, 1)")
    got = similarity.knn_join(qs, clustered_vecs, k=3, n_centroids=2,
                              nprobe=1).collect()
    assert [r["rank"] for r in got] == [1, 2, 3, 1, 2, 3]
    for qid in (0, 1):
        single = similarity.ivf_topk(clustered_vecs, query_id=qid, k=3,
                                     n_centroids=2, nprobe=1).collect()
        batch = [(r["vec_id"], r["cid"], r["cosine_sim"])
                 for r in got if r["query_id"] == qid]
        assert batch == [(r["vec_id"], r["cid"], r["cosine_sim"])
                         for r in single]


def test_knn_join_guards_and_self_exclusion(clustered_vecs):
    qs = clustered_vecs.filter("vec_id = 0")
    got = similarity.knn_join(qs, clustered_vecs, k=8,
                              n_centroids=2).collect()
    assert all(r["vec_id"] != 0 for r in got)       # self excluded
    assert len(got) == 7                            # everyone else ranked
    with pytest.raises(ValueError):
        similarity.knn_join(qs, clustered_vecs, k=0)
    with pytest.raises(ValueError):
        similarity.knn_join(qs, clustered_vecs, nprobe=5, n_centroids=2)


def test_knn_join_plan_has_window_group_limit(clustered_vecs):
    """The per-query top-k must be the rank-limit window shape Spark
    rewrites to WindowGroupLimit (per-partition top-k BEFORE the
    query_id exchange) — the property that keeps one query's candidate
    set from ever landing in a single task at corpus scale."""
    qs = clustered_vecs.filter("vec_id IN (0, 1)")
    df = similarity.knn_join(qs, clustered_vecs, k=3, n_centroids=2,
                             nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_sq8_codes_range_and_determinism(clustered_vecs):
    rows = similarity.sq8_codes(clustered_vecs).collect()
    assert len(rows) == 8
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c <= 255 for c in r["codes"])
    # per-dim extremes map to the edge codes on non-constant dims
    by_dim = list(zip(*[r["codes"] for r in rows]))
    assert min(by_dim[0]) == 0 and max(by_dim[0]) == 255
    again = similarity.sq8_codes(clustered_vecs.repartition(5)).collect()
    assert sorted(map(tuple, (r["codes"] for r in again))) == \
        sorted(map(tuple, (r["codes"] for r in rows)))


def test_sq8_topk_tracks_exact_on_separated_clusters(clustered_vecs):
    """With well-separated clusters the int8 reconstruction error is
    tiny relative to inter-point distances: the quantized top-3 must
    equal the exact lattice-L2 top-3 as a set, and the exact baseline
    must rank the query's own cluster first."""
    exact = similarity.lattice_l2_topk(clustered_vecs, query_id=0,
                                       k=3).collect()
    assert {r["vec_id"] for r in exact} == {2, 4, 6}   # cluster A peers
    appr = similarity.sq8_topk(clustered_vecs, query_id=0, k=3).collect()
    assert {r["vec_id"] for r in appr} == {r["vec_id"] for r in exact}
    d2s = [r["sq_d2"] for r in appr]
    assert d2s == sorted(d2s)


def test_sq8_stored_bounds_parity_and_guard(clustered_vecs, tmp_path):
    """Encoding against bounds read back from parquet must equal the
    in-plan fit bit-for-bit (the stored-artifact serving path), and
    passing codes without their bounds must fail loudly."""
    spark = clustered_vecs.sparkSession
    out = str(tmp_path / "sq8_bounds")
    similarity.sq8_bounds(clustered_vecs).write.parquet(out)
    stored = spark.read.parquet(out)
    a = sorted(map(tuple, similarity.sq8_codes(
        clustered_vecs, bounds=stored).collect()))
    b = sorted(map(tuple, similarity.sq8_codes(clustered_vecs).collect()))
    assert a == b
    codes = similarity.sq8_codes(clustered_vecs, bounds=stored)
    with pytest.raises(ValueError):
        similarity.sq8_topk(clustered_vecs, query_id=0, codes=codes)
    # out-of-range NEW vectors clamp to the edge codes
    import pyspark.sql.functions as SF
    new = clustered_vecs.limit(1).select(
        SF.lit(99).cast("long").alias("vec_id"),
        SF.transform("embedding", lambda x: x + SF.lit(50.0))
        .alias("embedding"))
    clamped = similarity.sq8_codes(new, bounds=stored).collect()[0]
    spans = {r["dim"]: r["mx"] > r["mn"] for r in stored.collect()}
    for dim, c in enumerate(clamped["codes"]):
        # non-constant dims clamp to the top edge code; constant dims
        # (fixture dims 2-7 are all-zero) always code to 0
        assert c == (255 if spans[dim] else 0)


def test_ivfsq_prunes_to_query_cluster(clustered_vecs):
    """nprobe=1 over two separated clusters must keep only the query's
    own cluster in the candidate set (the pruning IS the operator), and
    the surviving ranks must equal the unpruned sq8_topk order
    restricted to that cluster."""
    got = similarity.ivfsq_topk(clustered_vecs, query_id=0, k=7,
                                n_centroids=2, nprobe=1).collect()
    assert {r["vec_id"] for r in got} == {2, 4, 6}   # cluster A peers only
    assert len({r["cid"] for r in got}) == 1         # one probed cell
    full = similarity.sq8_topk(clustered_vecs, query_id=0, k=7).collect()
    want = [(r["vec_id"], r["sq_d2"]) for r in full
            if r["vec_id"] in {2, 4, 6}]
    assert [(r["vec_id"], r["sq_d2"]) for r in got] == want


def test_ivfsq_full_probe_equals_sq8_topk(clustered_vecs):
    """nprobe == n_centroids disables pruning: the composition must
    degrade to exactly sq8_topk (same ids, same distances, same order)
    — the semantic pin that the probe only FILTERS, never rescores."""
    got = similarity.ivfsq_topk(clustered_vecs, query_id=0, k=5,
                                n_centroids=2).collect()
    want = similarity.sq8_topk(clustered_vecs, query_id=0, k=5).collect()
    assert [(r["vec_id"], r["sq_d2"]) for r in got] \
        == [(r["vec_id"], r["sq_d2"]) for r in want]


def test_ivfsq_guards(clustered_vecs):
    cents = similarity.kmeans_centroids(clustered_vecs, k=2, iters=2)
    with pytest.raises(ValueError, match="together"):
        similarity.ivfsq_topk(clustered_vecs, query_id=0, cents=cents)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivfsq_topk(clustered_vecs, query_id=0, nprobe=9,
                              n_centroids=2)


# ---- recall of the approximate operators (similarity.recall_at_k) --------
# Each case pins an identity the design guarantees — probing every cell
# or clustering into one cell leaves nothing to miss — so recall is
# exactly 1, with no fitted threshold.


def _recall(exact, approx, k):
    row = similarity.recall_at_k(exact, approx, k).collect()[0]
    return (row["k"], row["n_hits"], row["recall_micro"])


def test_recall_at_k_counts_hits(spark):
    exact = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    approx = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 4, 5, 6, 20, 21, 22]], "vec_id long")
    assert _recall(exact, approx, 10) == (10, 7, 700000)


def test_ivfadc_probing_every_cell_equals_pq(pq_vecs):
    """2 cells, 2 probed: IVFADC ranks the whole code table, exactly as
    exhaustive ADC does with the same codebooks.  k=7 ranks every other
    vector, so a probe that skipped the other cell would lose rows."""
    ivf = similarity.ivfadc_topk(pq_vecs, query_id=0, k_neighbors=7,
                                 n_centroids=2, m=2, k=2, dim=8)
    pq = similarity.pq_topk(pq_vecs, query_id=0, k_neighbors=7,
                            m=2, k=2, dim=8)
    assert [(r["vec_id"], r["adc_d2"]) for r in ivf.collect()] == \
        [(r["vec_id"], r["adc_d2"]) for r in pq.collect()]
    assert _recall(pq, ivf, 7) == (7, 7, 1000000)


def test_knn_join_probing_every_cell_equals_brute_force(clustered_vecs):
    """Every cell probed: each query's neighbours are the brute-force
    ones.  k=7 reaches into the other cluster's cell."""
    qs = clustered_vecs.filter("vec_id IN (0, 3)")
    got = similarity.knn_join(qs, clustered_vecs, k=7, n_centroids=2,
                              nprobe=2)
    for qid in (0, 3):
        approx = got.filter(F.col("query_id") == qid)
        exact = similarity.cosine_topk(clustered_vecs, query_id=qid, k=7)
        assert [(r["vec_id"], r["cosine_sim"]) for r in approx.collect()] \
            == [(r["vec_id"], r["cosine_sim"]) for r in exact.collect()]
        assert _recall(exact, approx, 7) == (7, 7, 1000000)


def test_semantic_near_pairs_one_cell_equals_all_pairs(clustered_vecs):
    """One cluster compares every pair: the result is the exact all-pairs
    cosine >= threshold set.  Threshold 0 keeps some cross-cluster pairs
    (cosine about +0.01) and drops others (about -0.01)."""
    got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in
           similarity.semantic_near_pairs(clustered_vecs, n_centroids=1,
                                          threshold=0.0).collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in clustered_vecs.collect()}
    want = {}
    for a in vecs:
        for b in vecs:
            if a < b:
                dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
                cos = dot / math.sqrt(sum(x * x for x in vecs[a])
                                      * sum(y * y for y in vecs[b]))
                if cos >= 0.0:
                    want[(a, b)] = cos
    assert set(got) == set(want) and 12 < len(want) < 28
    for pair, cos in want.items():
        assert got[pair] == pytest.approx(cos, abs=1e-6)


# ---- stored-LM scoring (serving-form perplexity filter) --------------------


def test_stored_lm_matches_self_fit_on_same_corpus(spark):
    # scoring a corpus against ITS OWN stored freqs == the in-corpus
    # scorer (zero OOV by construction)
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a b c"), (2, "")], "doc_id long, text string")
    freqs = textanalysis.unigram_freqs(docs)
    stored = {r["doc_id"]: r for r in
              textanalysis.unigram_logprob_stored(docs, freqs).collect()}
    live = {r["doc_id"]: r for r in
            textanalysis.unigram_logprob(docs).collect()}
    for i in (0, 1, 2):
        # live reports a rounded float mean, stored an exact micro int
        assert abs(stored[i]["mean_logprob_micro"] / 1e6
                   - live[i]["mean_logprob"]) <= 1e-6
        assert stored[i]["n_tokens"] == live[i]["n_tokens"]
        assert stored[i]["oov_tokens"] == 0


def test_stored_lm_oov_floor_and_counts(spark):
    import math
    ref = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    freqs = textanalysis.unigram_freqs(ref)   # total=4: a:3, b:1
    target = spark.createDataFrame(
        [(10, "a zzz"), (11, "zzz zzz")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textanalysis.unigram_logprob_stored(target, freqs).collect()}
    lp_a = round(math.log(3 / 4) * 1e6)
    lp_oov = round(math.log(1 / 5) * 1e6)
    assert got[10]["oov_tokens"] == 1
    assert got[10]["mean_logprob_micro"] == math.floor((lp_a + lp_oov) / 2)
    assert got[11]["oov_tokens"] == 2
    assert got[11]["mean_logprob_micro"] == math.floor(2 * lp_oov / 2)
    # typical doc scores higher than all-OOV doc
    assert got[10]["mean_logprob_micro"] > got[11]["mean_logprob_micro"]


def test_stored_lm_empty_reference_floors_everything(spark):
    ref = spark.createDataFrame([], "doc_id long, text string")
    freqs = textanalysis.unigram_freqs(ref)
    target = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    row = textanalysis.unigram_logprob_stored(target, freqs).collect()[0]
    # total=0 -> floor ln(1/1)=0: degenerate but defined, never NULL
    assert row["oov_tokens"] == 2 and row["mean_logprob_micro"] == 0
