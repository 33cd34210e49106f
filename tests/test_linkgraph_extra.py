"""Hand-checked fixtures for the round-5 graph additions — triangle
counting (degree orientation), co-citation mining (fan-out cap), the
generic connected-components loop — plus temperature-scaled sampling.

The entry-query oracles pin these against DuckDB at corpus scale; this
file pins the SEMANTICS on graphs small enough to verify by hand (K4,
paths, two-component forests) and the guard/determinism contracts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import linkgraph, sampling


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: long, dst: long")


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------- triangles

def test_triangles_k4_every_node_in_three(spark):
    # K4: 4 triangles total, each node a corner of C(3,2)=3 of them
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    rows = {r["node_id"]: r["n_triangles"]
            for r in linkgraph.triangle_counts(_edges(spark, k4)).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_path_graph_is_empty(spark):
    path = [(0, 1), (1, 2), (2, 3)]
    assert linkgraph.triangle_counts(_edges(spark, path)).count() == 0


def test_triangles_ignore_direction_duplicates_and_self_loops(spark):
    # one triangle {1,2,3} hidden under reversed duplicates + a self
    # loop + a dangling spur; each corner counted exactly once
    e = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1), (3, 4)]
    rows = {r["node_id"]: r["n_triangles"]
            for r in linkgraph.triangle_counts(_edges(spark, e)).collect()}
    assert rows == {1: 1, 2: 1, 3: 1}


def test_triangles_two_disjoint_triangles(spark):
    e = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    out = linkgraph.triangle_counts(_edges(spark, e)).collect()
    assert {r["node_id"] for r in out} == {0, 1, 2, 10, 11, 12}
    assert all(r["n_triangles"] == 1 for r in out)


def test_triangles_plan_no_python_no_cartesian(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    plan = _formatted(linkgraph.triangle_counts(e))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


# ------------------------------------------------------ clustering coefficient

def test_clustering_k4_is_one_path_is_zero(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    rows = {r["node_id"]: (r["degree"], r["cc_micro"]) for r in
            linkgraph.clustering_coefficients(_edges(spark, k4)).collect()}
    assert rows == {i: (3, 1_000_000) for i in range(4)}
    # path 0-1-2: middle node d=2 T=0 -> cc 0; endpoints d=1 excluded
    path = {r["node_id"]: r["cc_micro"] for r in
            linkgraph.clustering_coefficients(
                _edges(spark, [(0, 1), (1, 2)])).collect()}
    assert path == {1: 0}


# ------------------------------------------------------ personalized pagerank

def test_personalized_pagerank_hand_chain(spark):
    # chain 1 -> 2 -> 3, seed {1}, two exact-integer iterations:
    #   iter1: p(1)=150000, p(2)=(17*10^6)//20=850000, p(3)=0
    #   iter2: p(1)=150000, p(2)=(17*150000)//20=127500,
    #          p(3)=(17*850000)//20=722500
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node_id: long")
    seeds = spark.createDataFrame([(1,)], "node_id: long")
    e = _edges(spark, [(1, 2), (2, 3)])
    pr = {r["node_id"]: r["pr"] for r in
          linkgraph.personalized_pagerank(nodes, e, seeds, iters=2).collect()}
    assert pr == {1: 150000, 2: 127500, 3: 722500}


def test_personalized_pagerank_nonseed_component_stays_zero(spark):
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 8, 9]],
                                  "node_id: long")
    seeds = spark.createDataFrame([(1,)], "node_id: long")
    e = _edges(spark, [(1, 2), (8, 9)])  # 8-9 unreachable from the seed
    pr = {r["node_id"]: r["pr"] for r in
          linkgraph.personalized_pagerank(nodes, e, seeds, iters=3).collect()}
    assert pr[8] == 0 and pr[9] == 0 and pr[1] > 0 and pr[2] > 0


# ---------------------------------------------------------------------- hits

def test_hits_hand_computed_two_sweeps(spark):
    # 1 -> 3, 2 -> 3, 3 -> 4; h0 = 1:
    #   a1 = in-degree: {3: 2, 4: 1}
    #   h1(v) = sum a1 over out-links: {1: 2, 2: 2, 3: 1}
    #   a2(v) = sum h1 over in-links:  {3: 4, 4: 1}
    #   h2(v) = sum a2 over out-links: {1: 4, 2: 4, 3: 1}
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]],
                                  "node_id: long")
    e = _edges(spark, [(1, 3), (2, 3), (3, 4)])
    out = {r["node_id"]: (r["hub"], r["auth"]) for r in
           linkgraph.hits_scores(nodes, e, iters=2).collect()}
    assert out == {1: (4, 0), 2: (4, 0), 3: (1, 4), 4: (0, 1)}


def test_hits_and_ppr_plans_no_python_no_cartesian(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id: long")
    seeds = spark.createDataFrame([(0,)], "node_id: long")
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 4)])
    for df in (linkgraph.hits_scores(nodes, e, iters=2),
               linkgraph.personalized_pagerank(nodes, e, seeds, iters=2)):
        plan = _formatted(df)
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_hits_isolated_node_scores_zero_and_guard(spark):
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "node_id: long")
    out = {r["node_id"]: (r["hub"], r["auth"]) for r in
           linkgraph.hits_scores(nodes, _edges(spark, [(1, 2)]),
                                 iters=1).collect()}
    assert out == {1: (1, 0), 2: (0, 1), 9: (0, 0)}
    with pytest.raises(ValueError, match="iters"):
        linkgraph.hits_scores(nodes, _edges(spark, [(1, 2)]), iters=0)


# --------------------------------------------------------------- cocitation

def test_cocitation_counts_and_ordering(spark):
    # s1 -> {a,b,c}; s2 -> {a,b}; duplicate (s2,a) collapses
    e = [(100, 1), (100, 2), (100, 3), (200, 1), (200, 2), (200, 1)]
    rows = {(r["a"], r["b"]): r["n_common"]
            for r in linkgraph.cocitation_pairs(_edges(spark, e)).collect()}
    assert rows == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_cocitation_fanout_cap_drops_hub_sources(spark):
    e = [(100, 1), (100, 2), (100, 3), (200, 1), (200, 2)]
    rows = {(r["a"], r["b"]): r["n_common"]
            for r in linkgraph.cocitation_pairs(
                _edges(spark, e), max_fanout=2).collect()}
    assert rows == {(1, 2): 1}  # source 100 (fan-out 3) dropped


def test_cocitation_fanout_guard_raises(spark):
    with pytest.raises(ValueError, match="max_fanout"):
        linkgraph.cocitation_pairs(_edges(spark, [(0, 1)]), max_fanout=1)


# --------------------------------------------------- connected components

def test_connected_components_two_chains_and_isolate(spark):
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 8, 9, 42]],
                                  "node_id: long")
    # chain 1-2-3, chain 7-8-9 (given reversed), isolated 42
    e = _edges(spark, [(2, 1), (2, 3), (9, 8), (7, 8)])
    labels = {r["node_id"]: r["label"]
              for r in linkgraph.connected_components(nodes, e).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7, 42: 42}


def test_connected_components_outside_endpoints_relay_but_drop(spark):
    # node 99 is not a requested node but bridges 1 and 5 — the two
    # merge into one component, 99 itself absent from the output
    nodes = spark.createDataFrame([(1,), (5,)], "node_id: long")
    e = _edges(spark, [(1, 99), (99, 5)])
    labels = {r["node_id"]: r["label"]
              for r in linkgraph.connected_components(nodes, e).collect()}
    assert labels == {1: 1, 5: 1}


def test_connected_components_matches_dedup_cc_loop(spark):
    # the dedup CC family delegates here: a 2-cluster near-dup corpus
    # keeps exactly one doc per component under keep-min
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet woods tonight")
    alt = ("completely different content about spark shuffles and "
           "partition pruning strategies for large scale corpora here")
    docs = spark.createDataFrame(
        [(0, base), (1, base + " extra"), (2, alt), (3, alt + " extra")],
        "doc_id: long, text: string")
    kept = sorted(r["doc_id"]
                  for r in dedup.deduplicate_corpus_cc(docs).collect())
    assert kept == [0, 2]


# ------------------------------------------------------- minhash estimation

def test_minhash_estimate_identical_docs_score_full(spark):
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = ("totally unrelated words about spark partitions shuffles "
             "and adaptive execution planning at corpus scale")
    docs = spark.createDataFrame([(0, same), (1, same), (2, other)],
                                 "doc_id: long, text: string")
    rows = dedup.minhash_estimate_pairs(docs).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(0, 1)]
    r = rows[0]
    assert r["n_agree"] == 8
    assert r["est_micro"] == 1_000_000
    assert r["jaccard_micro"] == 1_000_000


def test_minhash_estimate_partial_overlap_bounds(spark):
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    base = "one two three four five six seven eight nine ten"
    near = base + " eleven"
    docs = spark.createDataFrame([(0, base), (1, near)],
                                 "doc_id: long, text: string")
    rows = dedup.minhash_estimate_pairs(docs).collect()
    if rows:  # banding may or may not surface the pair; if it does:
        r = rows[0]
        # exact jaccard = 8 shared / 9 union shingles
        assert r["jaccard_micro"] == (8 * 1_000_000) // 9
        assert 0 <= r["n_agree"] <= 8
        assert r["est_micro"] == (r["n_agree"] * 1_000_000) // 8


# ------------------------------------------------------- all-pairs cosine

def test_sparse_cosine_hand_computed(spark):
    import math

    from rca_pdf_extraction_pipeline_spark.operators import similarity

    # bigram vocab: doc1 "x y x y" -> ("x y": 2, "y x": 1);
    # doc2 "x y q" -> ("x y": 1, df-1 tail); doc3 "y x m" -> ("y x": 1,
    # tail).  Retained terms "x y" and "y x" share one idf unit u:
    #   cos(1,2) = 2/sqrt(5);  cos(1,3) = 1/sqrt(5);  no (2,3) pair
    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y q"), (3, "y x m")],
        "doc_id: long, text: string")
    rows = {(r["id_a"], r["id_b"]): (r["dot"], r["cosine"]) for r in
            similarity.sparse_cosine_pairs(docs, df_frac=1.0).collect()}
    u = round(math.log(3 / 2) * 1_000_000)
    assert rows[(1, 2)] == (2 * u * u, round(2 / math.sqrt(5), 6))
    assert rows[(1, 3)] == (1 * u * u, round(1 / math.sqrt(5), 6))
    assert len(rows) == 2


def test_sparse_cosine_drops_unpaired_and_capped_terms(spark):
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    # identical docs pair at cosine 1.0; the all-singleton doc cannot
    # pair (df=1 bigrams dropped)
    docs = spark.createDataFrame(
        [(1, "red green"), (2, "red green"), (3, "solo tokens")],
        "doc_id: long, text: string")
    rows = [(r["id_a"], r["id_b"], r["cosine"]) for r in
            similarity.sparse_cosine_pairs(docs, df_frac=1.0).collect()]
    assert rows == [(1, 2, 1.0)]
    # fractional cap: floor(0.5 * 3) = 1 < 2 drops every term -> empty
    assert similarity.sparse_cosine_pairs(docs, df_frac=0.5).count() == 0
    with pytest.raises(ValueError, match="df_frac"):
        similarity.sparse_cosine_pairs(docs, df_frac=0.0)


# ------------------------------------------------------ empty-graph edges

def test_graph_ops_empty_and_selfloop_only_edges(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "node_id: long")
    loops = _edges(spark, [(1, 1), (2, 2)])
    assert linkgraph.triangle_counts(loops).count() == 0
    assert linkgraph.clustering_coefficients(loops).count() == 0
    assert linkgraph.cocitation_pairs(loops).count() == 0
    labels = {r["node_id"]: r["label"] for r in
              linkgraph.connected_components(nodes, loops).collect()}
    assert labels == {1: 1, 2: 2}
    hits = {r["node_id"]: (r["hub"], r["auth"]) for r in
            linkgraph.hits_scores(nodes, loops, iters=1).collect()}
    # self-loops are real directed edges for HITS (a node cites itself)
    assert set(hits) == {1, 2}


# ------------------------------------------------------ naive bayes

def test_nb_classify_separable_classes(spark):
    from rca_pdf_extraction_pipeline_spark.operators import textanalysis

    rows = [(i, "en", "hello world again hello") for i in range(4)] \
        + [(10 + i, "fr", "bonjour le monde bonjour") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id: long, lang: string, text: string")
    out = textanalysis.nb_classify(docs).collect()
    assert len(out) == 8
    for r in out:
        assert r["predicted"] == r["actual"], (r["doc_id"], r["predicted"])


def test_nb_classify_every_doc_scored_once(spark):
    from rca_pdf_extraction_pipeline_spark.operators import textanalysis

    rows = [(1, "en", "hello world"), (2, "fr", "bonjour monde"),
            (3, "en", "hello bonjour")]  # mixed evidence still scored
    docs = spark.createDataFrame(rows, "doc_id: long, lang: string, text: string")
    out = textanalysis.nb_classify(docs).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3]
    assert all(r["predicted"] in ("en", "fr") for r in out)


# ------------------------------------------------------ token mixture

def test_token_mixture_budgets_token_mass(spark):
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    rows = [(i, "web", 100) for i in range(400)] \
        + [(1000 + i, "code", 50) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id: long, source: string, n_chars: long")
    out = sampling.token_mixture_sample(
        docs, "source", {"web": 4_000, "code": 1_000_000})
    by = {r["source"]: (r["n"], r["tok"]) for r in
          out.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("tok"))
          .collect()}
    # web: 40k tokens total, budget 4k -> rate 0.1 -> ~400*0.1 docs
    assert 0.03 * 40_000 < by["web"][1] < 0.25 * 40_000
    assert by["code"] == (40, 2_000)  # budget above mass: keep everything
    with pytest.raises(ValueError, match="negative"):
        sampling.token_mixture_sample(docs, "source", {"web": -1})


# ---------------------------------------------------- leakage-safe split

def test_leakage_safe_split_co_travels_near_dups(spark):
    from rca_pdf_extraction_pipeline_spark.operators import dedup, sampling

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet woods tonight for a while")
    uniq = [f"totally distinct document number {i} about spark shuffle "
            f"planning partition pruning and adaptive execution {i}"
            for i in range(40)]
    rows = [(i, uniq[i]) for i in range(40)]
    rows += [(100 + j, base + f" tail{j}") for j in range(6)]  # one component
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    out = sampling.leakage_safe_split(docs)
    split = {r["doc_id"]: r["split"] for r in out.collect()}
    # exhaustive and disjoint
    assert len(split) == 46 and set(split.values()) <= {"train", "val", "test"}
    # every verified near-dup pair lands in ONE split
    pairs = dedup.verified_near_pairs(docs).collect()
    assert pairs, "fixture must actually contain near-dup pairs"
    for p in pairs:
        assert split[p["id_a"]] == split[p["id_b"]]
    # singletons (label = own id) match the plain per-doc split exactly
    plain = {r["doc_id"]: r["split"]
             for r in sampling.train_val_test_split(docs).collect()}
    comp_ids = {p[c] for p in pairs for c in ("id_a", "id_b")}
    for i in range(40):
        if i not in comp_ids:
            assert split[i] == plain[i]


def test_leakage_safe_split_weights_guard(spark):
    import pytest as _pt

    from rca_pdf_extraction_pipeline_spark.operators import sampling

    docs = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
    with _pt.raises(ValueError, match="weights"):
        sampling.leakage_safe_split(docs, weights=(0.5, 0.1, 0.1))


# ---------------------------------------------------- temperature sampling

def _docs(spark, sizes: dict[str, int]):
    rows, i = [], 0
    for g, n in sorted(sizes.items()):
        for _ in range(n):
            rows.append((i, g))
            i += 1
    return spark.createDataFrame(rows, "doc_id: long, lang: string")


def test_temperature_alpha_one_is_flat_base_rate(spark):
    docs = _docs(spark, {"en": 400, "fr": 100})
    out = sampling.temperature_sample(docs, alpha=1.0, base_rate=0.5, seed=3)
    flat = docs.filter(sampling.sample_bucket(F.col("doc_id"), 3)
                       < int(0.5 * sampling.SAMPLE_BUCKETS))
    assert {r["doc_id"] for r in out.collect()} == \
        {r["doc_id"] for r in flat.collect()}


def test_temperature_upweights_tail_and_caps_at_one(spark):
    docs = _docs(spark, {"en": 6400, "fr": 400, "rare": 4})
    out = sampling.temperature_sample(docs, alpha=0.5, base_rate=0.2, seed=0)
    by = {r["lang"]: r["n"] for r in
          out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # cut(en)=0.2, cut(fr)=0.2*sqrt(16)=0.8, cut(rare)=0.2*40=8 -> capped 1.0
    assert by["rare"] == 4                      # rate capped at 1: keep all
    assert 0.10 * 6400 < by["en"] < 0.30 * 6400  # ~base rate
    assert 0.65 * 400 < by["fr"] < 0.95 * 400    # ~sqrt-boosted rate
    # expected-count ordering: tail boosted ABOVE its natural share
    assert by["fr"] / 400 > by["en"] / 6400


def test_temperature_partition_invariant_and_guards(spark):
    docs = _docs(spark, {"en": 300, "fr": 60})
    a = sampling.temperature_sample(docs, alpha=0.5, base_rate=0.3)
    b = sampling.temperature_sample(docs.repartition(13), alpha=0.5,
                                    base_rate=0.3)
    assert {r["doc_id"] for r in a.collect()} == \
        {r["doc_id"] for r in b.collect()}
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_sample(docs, alpha=0.3)
    with pytest.raises(ValueError, match="base_rate"):
        sampling.temperature_sample(docs, base_rate=0.0)


def test_temperature_plan_is_broadcast_no_shuffle_on_docs(spark):
    docs = _docs(spark, {"en": 100, "fr": 20})
    plan = _formatted(
        sampling.temperature_sample(docs, alpha=0.5, base_rate=0.2))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
