"""Physical-plan hygiene: the optimizations we rely on at 100 TB must
actually fire locally — predicate pushdown into parquet scans, column
pruning, broadcast joins for small dims, no Python eval in JVM-only
operators, and a single narrow Arrow stage for extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import (
    boilerplate,
    dedup,
    extraction,
    textanalysis,
)
from rca_pdf_extraction_pipeline_spark.sources import fixtures

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_filter_pushdown_reaches_scan(lineitem):
    q = lineitem.filter(F.col("l_quantity") > 40).select("l_orderkey")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan


def test_column_pruning_in_read_schema(lineitem):
    q = lineitem.filter(F.col("l_quantity") > 40).select("l_orderkey")
    plan = _formatted(q)
    # scan must read only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_broadcast_join_for_small_dim(spark, lineitem):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = lineitem.join(F.broadcast(orders),
                      lineitem["l_orderkey"] == orders["o_orderkey"])
    assert "BroadcastHashJoin" in _plan(q)


def test_jvm_only_operators_have_no_python_eval(documents):
    """dedup/textanalysis/boilerplate are built-ins only — a BatchEvalPython
    or ArrowEvalPython in their plans means a UDF snuck into the hot path."""
    for q in [
        dedup.minhash_signatures(documents),
        dedup.simhash_signatures(documents),
        textanalysis.quality_scores(documents),
        textanalysis.fingerprints(documents),
        boilerplate.extract_main_text(
            documents.select("doc_id", F.lit(0).alias("idx"),
                             F.lit("p").alias("tag"), "text",
                             F.lit(0).alias("anchor_chars"))),
    ]:
        plan = _plan(q)
        assert "EvalPython" not in plan, plan[:2000]


def test_simhash_signatures_plan_is_shuffle_free(documents):
    """The 64-bit SimHash signature is a pure per-row projection — no
    Exchange anywhere in its plan (the round-1 explode+groupBy form had
    one); at 100 TB this keeps signatures inside the scan stage."""
    plan = _plan(dedup.simhash_signatures(documents))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_hashed_embedding_is_narrow_and_python_free(documents):
    """embed_documents is a pure column fold: no Exchange (narrow,
    pipelines inside the scan stage at 100 TB) and no Python eval."""
    from rca_pdf_extraction_pipeline_spark.operators import embedding

    plan = _plan(embedding.embed_documents(documents))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_vocab_and_weighted_sample_are_take_ordered(documents):
    """Global top-k selections must compile to TakeOrderedAndProject
    (O(k) per task), never a global Sort."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling, textanalysis

    for q in [textanalysis.vocabulary(documents, top_v=50),
              sampling.weighted_priority_sample(documents, "n_chars", k=50)]:
        plan = _plan(q)
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_mixture_sample_broadcasts_cuts(documents):
    """The per-source cut table is tiny: it must broadcast — the
    document scan itself never hash-shuffles."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    plan = _plan(sampling.mixture_sample(
        documents, "source", {"src0": 10, "src1": 5}))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_sessionize_is_single_exchange(spark):
    """Gap sessions: one hash exchange on the user key (plus AQE reads),
    no Python eval."""
    from rca_pdf_extraction_pipeline_spark.operators import sessions

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(sessions.sessionize(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_bigram_lm_and_bpe_tokens_no_python_eval(documents):
    from rca_pdf_extraction_pipeline_spark.operators import textanalysis

    for q in [textanalysis.bigram_logprob(documents),
              textanalysis.bpe_token_stats(documents)]:
        assert "EvalPython" not in _plan(q)


def test_metadata_and_search_have_no_python_eval(spark):
    from rca_pdf_extraction_pipeline_spark.operators import metadata

    docs = fixtures.docs_to_spark(spark, fixtures.build_metadata_docs())
    assert "EvalPython" not in _plan(metadata.extract_doc_metadata(docs))
    search = metadata.search_spans(docs, "core", limit=10)
    plan = _plan(search)
    assert "EvalPython" not in plan
    # LIMIT must short-circuit, not sort-then-limit the full scan output
    assert "TakeOrderedAndProject" in plan


def test_f8_guard_does_not_explode_spans(spark):
    """page_range_warnings computes n_pages via array_max over the nested
    column — exactly one Generate (the tiny requested-pages array), never
    one per span."""
    from rca_pdf_extraction_pipeline_spark.operators import tablegrid

    docs = fixtures.docs_to_spark(spark, [fixtures.build_grid_doc()])
    plan = _plan(tablegrid.page_range_warnings(docs, [1, 2, 99]))
    assert plan.count("Generate") == 1
    assert "EvalPython" not in plan


def test_frequent_line_removal_broadcasts_banned_set(documents):
    """remove_frequent_lines' claim: the banned-line set joins as a
    BROADCAST anti-join inside the line scan — never a shuffled big-big
    join of every line against every line."""
    q = boilerplate.remove_frequent_lines(documents, min_df=5)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_multiprobe_topk_is_broadcast_and_takeordered(documents, spark):
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = similarity.bucketed_topk_multiprobe(emb, query_id=0, k=5, nprobe=4)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_extraction_is_single_arrow_stage_no_shuffle(spark):
    """Extraction and the media stages (docs/SCALE.md, docs/PLANS.md)
    are each one narrow Arrow crossing: exactly one MapInArrow over the
    scan, no pandas conversion, and no Exchange inside the operator."""
    import numpy as np

    from rca_pdf_extraction_pipeline_spark.operators import multimodal

    docs = fixtures.docs_to_spark(spark, fixtures.build_classify_docs())
    clip = multimodal.encode_y4m(np.zeros((2, 8, 8), dtype=np.uint8))
    image = multimodal.encode_bmp(np.zeros((8, 9, 3), dtype=np.uint8))
    media = spark.createDataFrame(
        [("v", "d", "video", clip, None, None, 2000),
         ("i", "d", "image", image, 9, 8, None)], multimodal.MEDIA_SCHEMA)
    for name, q in [("extract_documents", extraction.extract_documents(docs)),
                    ("decode_media", multimodal.decode_media(media)),
                    ("media_dhash", multimodal.media_dhash(media)),
                    ("video_frames", multimodal.video_frames(media))]:
        plan = _plan(q)
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "MapInPandas" not in plan, name
        assert "Exchange" not in plan, name


def test_verify_headers_runs_one_python_stage(spark):
    """H2 reads one header frame: the reference page and its headers
    come from windows over doc_id, not from a groupBy and self-joins
    that each re-run the Python stage.  One exchange on doc_id serves
    both windows and the final groupBy."""
    docs = fixtures.docs_to_spark(spark, [fixtures.build_golden_doc()])
    plan = _plan(extraction.verify_headers_documents(docs))
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_structural_classifier_is_one_jvm_aggregate(spark):
    """C2 is column expressions end to end: no Python stage, and the one
    groupBy(doc_id, page) is the only exchange."""
    docs = fixtures.docs_to_spark(spark, fixtures.build_classify_docs())
    plan = _plan(extraction.classify_documents_structural(docs))
    assert "MapInArrow" not in plan and "EvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_whole_stage_codegen_covers_scalar_projection(lineitem):
    """Plain scalar expressions stay inside codegen. (Higher-order array
    functions — filter/transform/aggregate — legitimately run as
    non-codegen Projects; they are still JVM-side, covered by the
    no-EvalPython test above.)"""
    q = lineitem.select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.upper("l_returnflag").alias("rf"),
    )
    # the '*(n)' prefix marks a WholeStageCodegen-compiled span
    assert "*(1) Project" in _plan(q)


def test_new_text_ops_no_python_eval(documents):
    """substring dedup, repetition/PII stats, BM25, curation signals —
    all pure built-in expressions; any EvalPython means a UDF regressed
    into the hot path."""
    from rca_pdf_extraction_pipeline_spark.operators import (
        curation,
        search,
        substring_dedup,
    )

    for q in [
        substring_dedup.duplicated_ranges(documents),
        substring_dedup.duplication_profile(documents),
        textanalysis.repetition_stats(documents),
        textanalysis.pii_stats(documents),
        search.bm25_topk(documents, ["table", "spark"]),
        curation.curation_signals(documents),
    ]:
        plan = _plan(q)
        assert "EvalPython" not in plan, plan[:2000]


def test_bm25_topk_is_take_ordered(documents):
    """Final ranking must be TakeOrderedAndProject (O(k) per task), and
    the corpus-stats side must come in via broadcast, not a shuffle of
    the corpus."""
    from rca_pdf_extraction_pipeline_spark.operators import search

    plan = _plan(search.bm25_topk(documents, ["table", "spark"]))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join


def test_substring_gram_strings_never_shuffle(documents):
    """The duplicated-gram join must shuffle the 16-char md5 prefix,
    never the raw k-gram strings: no Exchange output should carry a
    column wider than the hash."""
    from rca_pdf_extraction_pipeline_spark.operators import substring_dedup

    plan = _plan(substring_dedup.duplicated_ranges(documents))
    # every Exchange carries (doc_id, pos, gh) or aggregates of gh —
    # the gram text column is projected away before any exchange
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram" not in line, line


def test_ivf_kmeans_no_python_and_broadcast_centroids(spark):
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.ivf_topk(embs, 0))
    assert "EvalPython" not in plan
    # centroids / probes / query vector all arrive via broadcast
    assert plan.count("BroadcastExchange") >= 3
    assert "TakeOrderedAndProject" in plan


def test_hist_quantiles_broadcast_stats_partitioned_window(spark):
    """Histogram quantiles: the per-group stats come back via broadcast
    (never a shuffle of the corpus against a 3-long-row table), the
    cumsum window HAS a partition spec (no corpus-to-one-task window),
    and no Python eval anywhere."""
    from rca_pdf_extraction_pipeline_spark.operators import profiling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(profiling.histogram_quantiles(docs))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the cumsum window must carry a partitionBy — an unpartitioned
    # window moves the whole input to one task (Spark's own "No
    # Partition Defined" warning); same pin shape as pack_documents'
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition(" in ln]
    assert win_lines, "expected the per-group cumsum window in the plan"
    for ln in win_lines:
        first_arg = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, ln.strip()


def test_incremental_pairs_no_cartesian_keyed_join(spark):
    """Incremental dedup joins batch band keys against the stored index
    on (band, band_key) — a keyed equi-join, never a cartesian; no
    Python eval."""
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = dedup.minhash_band_keys(docs.filter("doc_id % 2 = 0"))
    q = dedup.incremental_candidate_pairs(docs.filter("doc_id % 2 = 1"), idx)
    plan = _plan(q)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "band_key" in plan


def test_epoch_shards_partitioned_window_no_python(spark):
    """Epoch sharding: the per-shard position window is PARTITIONED on
    shard (never a corpus-wide sort to one task) and the whole plan is
    JVM-side."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(sampling.epoch_shards(docs, n_shards=8, epoch=1))
    assert "EvalPython" not in plan
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition(" in ln]
    assert win_lines
    for ln in win_lines:
        first_arg = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, ln.strip()


def test_range_rank_single_shared_range_exchange(spark):
    """_range_rank correctness contract: the `within` window branch and
    the `counts` aggregate branch must observe the SAME partition-id
    assignment from ONE shared range exchange.  RangePartitioner samples
    its boundaries with an RDD-id-derived seed (`sketch`: seed =
    byteswap32(idx ^ (rdd.id << 16))), so two independently-planned
    range exchanges over the same data may draw DIFFERENT boundaries —
    a row near a boundary would then be counted in range i by one
    branch but ranked in range i+1 by the other, yielding duplicate or
    gapped global ranks.  Today Spark's ReuseExchangeAndSubquery rule
    (and AQE's runtime stage cache) collapses the canonically-identical
    exchanges into one physical shuffle; this pin fails loudly if that
    reuse ever stops firing (canonicalization drift, plan change) so
    the hazard surfaces as a test failure, not silent rank corruption."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # static planning path: reuse must come from the explicit
        # ReuseExchangeAndSubquery preparation rule, visible in the plan
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(sampling.epoch_shards(docs, n_shards=8, epoch=1))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    mentions = plan.count("Exchange rangepartitioning")
    reused = plan.count("ReusedExchange")
    # a ReusedExchange node's own line repeats the exchange description,
    # so real shuffles = mentions - reused; exactly one may materialize
    assert mentions - reused == 1, plan
    assert reused >= 1, plan


def test_pagerank_no_python_no_cartesian(spark):
    """Integer-lattice PageRank: pure relational plan — no Python eval,
    no CartesianProduct (the rank-carry and inflow joins are all keyed),
    and the final top-k is a TakeOrderedAndProject."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    nodes = docs.selectExpr("doc_id as node_id")
    edges = docs.selectExpr("doc_id as src", "doc_id div 2 as dst") \
        .where("src != dst")
    q = linkgraph.pagerank(nodes, edges, iters=2) \
        .orderBy(F.desc("pr"), "node_id").limit(30)
    plan = _plan(q)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_topk_no_python_broadcast_lut_topk(spark):
    """ADC product-quantization search: all lattice arithmetic JVM-side,
    the m*k distance lookup table arrives via broadcast (the corpus side
    joins against it, never the reverse), and the final top-k is a
    TakeOrderedAndProject — O(k) per task, no global sort."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.pq_topk(embs, 0))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_ivf_sampled_touches_full_corpus_once(spark):
    """Train-on-sample IVF: the full-corpus nearest-centroid assignment
    (the only aggregate over the raw `embedding` column) appears ONCE in
    the plan regardless of Lloyd iteration count — iterations only add
    subtrees gated on the hash-sample filter."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for iters in (2, 4):
        q = similarity.ivf_topk_sampled(embs, 0, iters=iters)
        plan = _plan(q)
        assert "EvalPython" not in plan
        # partial + final of exactly one first(embedding) aggregate:
        # the single full-corpus assignment pass, independent of iters
        assert plan.count("first(embedding") == 2, \
            f"iters={iters}: full-corpus assignment ran more than once"
        # every Lloyd round is gated on the 50% sample cut
        assert plan.count("< 500000") >= iters


def test_asof_and_chunking_no_python_eval(spark, documents):
    import datetime as dt

    from rca_pdf_extraction_pipeline_spark.operators import chunking
    from rca_pdf_extraction_pipeline_spark.operators.asof import asof_join

    T = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, T, 1)], "k long, ts timestamp, lid long")
    right = spark.createDataFrame([(1, T, 2)], "k long, ts timestamp, rid long")
    for q in [
        asof_join(left, right, on="k"),
        chunking.chunk_documents(documents),
        chunking.pack_documents(documents),
    ]:
        plan = _plan(q)
        assert "EvalPython" not in plan, plan[:2000]


def test_pack_documents_every_window_has_partition_spec(documents):
    """pack_documents must never plan a corpus-wide window: every
    windowspecdefinition carries a partition expression (the r3 version
    ran Window.orderBy(id) with NO partitionBy — Spark's own 'No
    Partition Defined' WindowExec warning, single-task at any scale),
    and the per-range offsets join is a broadcast of the tiny totals
    table, not a shuffle."""
    from rca_pdf_extraction_pipeline_spark.operators import chunking

    plan = _plan(chunking.pack_documents(documents))
    win_lines = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert win_lines, "expected a per-range cumsum window in the plan"
    for ln in win_lines:
        spec = ln.split("windowspecdefinition(", 1)[1]
        # a partitioned spec reads (rng#N, id#M ASC ...); an unpartitioned
        # one starts directly with the sort order
        first_arg = spec.split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, ln.strip()


def test_pack_sequences_plan_shape(spark, documents):
    """pack_sequences inherits pack_documents' scale constraints: every
    window carries a partition spec (no corpus-wide cumsum task), no
    Python eval anywhere, and — like _range_rank (ADVICE r4) — the
    within-range window branch and the per-range totals/offsets
    branches must observe ONE executed range exchange (boundaries are
    sampled per execution; divergent assignments would corrupt the
    stream offsets at range borders).  AQE finalizes reuse only at
    execution, so the reuse pin inspects the post-collect plan."""
    from rca_pdf_extraction_pipeline_spark.functions import text as T
    from rca_pdf_extraction_pipeline_spark.operators import chunking

    toks = documents.select(
        "doc_id", T.tokens(F.col("text")).alias("tokens"))
    df = chunking.pack_sequences(toks, seq_len=128)
    plan = _plan(df)
    assert "EvalPython" not in plan, plan[:2000]
    for ln in plan.splitlines():
        if "windowspecdefinition(" not in ln:
            continue
        first_arg = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, ln.strip()
    df.collect()
    final = _plan(df).split("Initial Plan")[0]
    executed = [ln for ln in final.splitlines()
                if "Exchange rangepartitioning" in ln
                and "ReusedExchange" not in ln]
    reused = [ln for ln in final.splitlines()
              if "ReusedExchange" in ln and "rangepartitioning" in ln]
    assert len(executed) == 1, final
    assert len(reused) >= 1, final
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, \
        plan[:2000]


def test_asof_join_is_one_exchange_per_side(spark):
    """The as-of join must cost ONE hash exchange on the key (union +
    window), never a nested-loop inequality join."""
    import datetime as dt

    T = dt.datetime(2024, 1, 1)
    from rca_pdf_extraction_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, T, 1)], "k long, ts timestamp, lid long")
    right = spark.createDataFrame([(1, T, 2)], "k long, ts timestamp, rid long")
    plan = _plan(asof_join(left, right, on="k"))
    assert "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning(k#") == 1


def test_minhash_estimate_single_md5_fold(documents):
    """minhash_estimate_pairs feeds BOTH pair-join sides from one
    persisted (shset, sig) layer: the md5-per-shingle fold must appear
    exactly once in the final plan (the candidate-pair side is already
    lineage-cut by its materializer).  A second occurrence means a join
    side re-inlined the fold — doubling the dominant cost."""
    plan = _formatted(dedup.minhash_estimate_pairs(documents))
    assert "EvalPython" not in plan
    assert plan.count("md5") == 1, plan.count("md5")


def test_simhash_swar_single_project_no_hof_filters(documents):
    """The SWAR signature must evaluate the md5 transform ONCE (a single
    non-collapsed projection feeding 16 scalar folds) — no ArrayFilter
    passes, which allocated a filtered array per bit per row."""
    plan = _plan(dedup.simhash_signatures(documents))
    assert "array_filter" not in plan.lower()
    assert "Exchange" not in plan and "EvalPython" not in plan
    # md5 hashing is confined to ONE projection layer (the hv build)
    # and evaluated ONCE per shingle: a nested transform materializes
    # the hex array, then the hi/lo conv slices read the HEX, not the
    # hash — a second+ occurrence means a slice re-inlined md5 (2x the
    # dominant cost) or the lane-cap guard / SWAR folds re-inlined the
    # whole transform (the 8x regression shape)
    md5_layers = [ln for ln in plan.splitlines() if "md5" in ln]
    assert len(md5_layers) == 1, md5_layers
    assert md5_layers[0].count("md5") == 1, md5_layers[0]


def test_tokenize_once_per_scan_branch(documents):
    """The whitespace tokenizer (filter(split(text))) must appear in the
    plan exactly once per scan branch — never re-inlined into HOF
    lambdas or sibling expressions (Catalyst does no cross-alias CSE:
    an inline tokenizer inside an element_at/slice lambda re-runs per
    ELEMENT, which made substring dedup O(k x n_tokens^2) per doc)."""
    from rca_pdf_extraction_pipeline_spark.operators import (
        chunking,
        search,
        substring_dedup,
        textanalysis,
    )

    expected = {
        # (query, scan branches over the documents relation)
        "substr_ranges": (substring_dedup.duplicated_ranges(documents), 2),
        "chunks": (chunking.chunk_documents(documents), 1),
        # bigram LM: 0 — its five consumer branches read the
        # MATERIALIZED bigram table; lineage (and the tokenizer) is cut
        "bigram_lm": (textanalysis.bigram_logprob(documents), 0),
        "token_stats": (textanalysis.token_stats(documents), 1),
        "bpe_stats": (textanalysis.bpe_token_stats(documents), 1),
        "bm25": (search.bm25_topk(documents, ["table", "spark"]), 2),
    }
    for name, (q, branches) in expected.items():
        plan = _plan(q)
        got = plan.count("split(text")
        assert got == branches, \
            f"{name}: tokenizer appears {got}x, expected {branches} " \
            f"(one per scan branch) — an alias was re-inlined"


def test_inverted_index_caps_before_collect(documents):
    """Posting lists must be truncated by the sort-window (spillable)
    BEFORE collect_list materializes anything: the plan's Window comes
    strictly below the final aggregate, and the filter on rn sits
    between them."""
    from rca_pdf_extraction_pipeline_spark.operators import search

    plan = _plan(search.inverted_index(documents, max_postings=4))
    assert "EvalPython" not in plan
    w = plan.index("Window")
    agg_above = plan.rindex("ObjectHashAggregate") if "ObjectHashAggregate" \
        in plan else plan.rindex("HashAggregate")
    assert agg_above < w, "collect_list must consume the capped window output"
    # exactly two exchanges total — (term, id) for tf, term for the
    # window; the final aggregate reuses the window's partitioning
    # instead of adding a third
    assert plan.count("Exchange") == 2


def test_source_tfidf_broadcasts_group_count(documents):
    from rca_pdf_extraction_pipeline_spark.operators import profiling

    plan = _plan(profiling.source_tfidf_terms(documents))
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_groups cross join


def test_hybrid_rrf_windows_are_post_limit(documents):
    """Both rank windows must sit above a LocalLimit/TakeOrdered of their
    candidate list — the single-partition window is bounded by n_each,
    never a corpus-wide sort."""
    from rca_pdf_extraction_pipeline_spark.operators import search

    plan = _plan(search.hybrid_rrf_topk(documents, ["table"], query_doc=0))
    assert "EvalPython" not in plan
    for frag in plan.split("Window")[1:]:
        assert "TakeOrderedAndProject" in frag, frag[:800]


def test_hll_registers_shuffle_16_byte_rows_only(documents):
    """The HLL register table must be the ONLY thing shuffled — the
    exchange carries (group, bucket, rank) with map-side partial max,
    never raw values; no Python eval anywhere."""
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    q = sketches.hll_registers(
        documents.select(F.col("lang"), F.col("text").alias("v")),
        "v", ("lang",))
    plan = _plan(q)
    assert "EvalPython" not in plan
    assert "partial_max" in plan          # map-side combine before exchange
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "v#" not in line, line  # raw column never shuffles


def test_bucketed_join_has_no_exchange(spark, tmp_path, lineitem):
    """Bucketing prepays the join shuffle at write time: joining two
    same-bucketed tables must plan with ZERO Exchange (and no per-task
    Sort either — single sorted file per bucket), where the plain
    parquet join shuffles both sides."""
    from rca_pdf_extraction_pipeline_spark.plans import bucketing

    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the point is the co-located SMJ path (at 100 TB neither side
    # broadcasts); stop AQE from broadcasting the test-scale dim
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketing.write_bucketed(
            lineitem.select("l_orderkey", "l_quantity"),
            "bktest.li_b", "l_orderkey", 8)
        bucketing.write_bucketed(
            orders.select(F.col("o_orderkey").alias("l_orderkey"),
                          "o_totalprice"),
            "bktest.ord_b", "l_orderkey", 8)
        q = bucketing.bucketed_join(spark, "bktest.li_b", "bktest.ord_b",
                                    "l_orderkey")
        plan = _plan(q)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        # note: Spark 3+/4 still plans a defensive per-task Sort (the
        # sorted-bucket scan ordering sits behind the legacy
        # bucketedTableScan.outputOrdering flag); the prepaid SHUFFLE
        # elision above is the part that matters at 100 TB
        assert "SelectedBucketsCount: 8 out of 8" in _formatted(q)
        # same join off plain (unbucketed) parquet shuffles both sides
        plain = lineitem.select("l_orderkey", "l_quantity").join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"),
                          "o_totalprice").hint("merge"), "l_orderkey")
        assert "Exchange" in _plan(plain)
        with pytest.raises(ValueError, match="n_buckets"):
            bucketing.write_bucketed(lineitem, "bktest.bad", "l_orderkey", 0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_range_rank_single_range_exchange_reused(spark):
    """_range_rank correctness REQUIRES every branch (the within-range
    window, the per-range counts, the offsets self-join) to observe the
    SAME partition-id assignment from ONE executed range exchange:
    RangePartitioner samples its boundaries per execution, so three
    independent executions could split rows differently and the
    decomposed global ranks would come out duplicated/gapped (ADVICE
    r4).  Pin the runtime invariant: in the AQE final plan exactly ONE
    range exchange materializes and every other consumer is a
    ReusedExchange of it.  If a Spark upgrade ever breaks this reuse,
    this fails loudly and _range_rank must grow a real materializer
    (dedup._Materializer) instead."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = sampling.epoch_shards(docs, n_shards=8, epoch=1)
    df.collect()  # AQE finalizes reuse only at execution
    plan = _plan(df)
    final = plan.split("Initial Plan")[0]  # adaptive dump repeats the plan
    executed = [ln for ln in final.splitlines()
                if "Exchange rangepartitioning" in ln
                and "ReusedExchange" not in ln]
    reused = [ln for ln in final.splitlines()
              if "ReusedExchange" in ln and "rangepartitioning" in ln]
    assert len(executed) == 1, final
    assert len(reused) == 2, final


def test_bucketed_pagerank_one_fewer_exchange_per_iteration(spark):
    """PageRank over an edge table bucketed by src (the linkgraph
    module docstring's own 10^12-edge prescription, composed via
    plans/bucketing.py): the per-iteration rank-carry join consumes the
    prepaid bucket layout instead of re-shuffling the edges, so the
    plan carries exactly one fewer Exchange per iteration than the
    unbucketed twin — with identical output rows."""
    import re

    from rca_pdf_extraction_pipeline_spark.operators import linkgraph
    from rca_pdf_extraction_pipeline_spark.plans import bucketing

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edges = (docs.selectExpr("doc_id AS src",
                             "cast(doc_id div 2 AS long) AS dst")
             .where("src != dst"))
    nodes = docs.selectExpr("doc_id AS node_id")
    spark.sql("CREATE DATABASE IF NOT EXISTS prbk")
    try:
        bucketing.write_bucketed(edges, "prbk.e", "src", 8)
        iters = 2
        plain = linkgraph.pagerank(nodes, edges, iters=iters)
        bucketed = linkgraph.pagerank(nodes, spark.table("prbk.e"),
                                      iters=iters)
        n_plain = len(re.findall(r"Exchange hashpartitioning",
                                 _plan(plain)))
        n_bucketed = len(re.findall(r"Exchange hashpartitioning",
                                    _plan(bucketed)))
        assert n_plain - n_bucketed == iters, (n_plain, n_bucketed)
        assert sorted(map(tuple, plain.collect())) \
            == sorted(map(tuple, bucketed.collect()))
    finally:
        spark.sql("DROP DATABASE IF EXISTS prbk CASCADE")


def test_dsir_topk_broadcast_model_take_ordered(documents):
    """DSIR scoring: the hashed-unigram model (<= n_buckets rows) must
    broadcast onto the candidate token stream, the final selection must
    be TakeOrderedAndProject, and nothing drops to Python."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    plan = _plan(sampling.dsir_topk(documents, "src1", k=10, n_buckets=256))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_drift_and_bpe_no_python_eval_topk_shape(spark, documents):
    """corpus_drift and the BPE stages are pure column expressions: no
    EvalPython anywhere; drift's final top-k is TakeOrderedAndProject
    (O(k) per task), and bpe_apply's merge chain is a narrow replace
    projection (no shuffle until the per-doc regroup)."""
    from rca_pdf_extraction_pipeline_spark.operators import bpe
    from rca_pdf_extraction_pipeline_spark.operators.profiling import corpus_drift

    drift = corpus_drift(documents.limit(100), documents.limit(100),
                         n_buckets=64, top_k=5)
    plan = _plan(drift)
    assert "EvalPython" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]

    pairs = bpe._pair_counts(bpe._word_vocab(documents.limit(100)))
    plan = _plan(pairs)
    assert "EvalPython" not in plan, plan[:2000]

    applied = bpe.bpe_apply(documents.limit(100),
                            [("e", "s"), ("es", "t")])
    plan = _plan(applied)
    assert "EvalPython" not in plan, plan[:2000]


def test_sq8_topk_is_shuffle_free_take_ordered(spark):
    """SQ8 asymmetric search is a narrow scan: codes + broadcast bounds
    row + broadcast query, ranked by TakeOrderedAndProject — zero data
    shuffle (the only exchanges feed the tiny broadcast sides) and no
    Python eval anywhere in the distance arithmetic."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.sq8_topk(embs, query_id=0, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    # exactly ONE per-dim bounds fold, riding the broadcast build side:
    # a second hashpartitioning(dim) means the fold grew a second
    # consumer and the corpus explode is being re-derived per branch
    hash_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_knn_join_prunes_by_probed_cells_and_group_limits(spark):
    """The batch k-NN join must (a) never build the |Q| x |N| cross
    product — candidates come from a broadcast hash join on the probed
    cid — and (b) rank per query through the WindowGroupLimit rewrite
    (per-partition top-k BEFORE the query_id exchange)."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = similarity.knn_join(embs.filter("vec_id % 100 = 0"), embs)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan
    # the candidate join is keyed on cid: a CartesianProduct or a
    # BroadcastNestedLoopJoin with a non-trivial big side means the
    # blocking regressed to all-pairs (the only nested-loop joins
    # allowed are the k-row centroid / one-row query broadcasts)
    assert "CartesianProduct" not in plan


#: Relation (scan) leaves in each vector operator's optimized logical
#: plan over the sf0.01 embeddings.  Every leaf is a re-derivation from
#: the table: a shared layer lowers its operator's number, and a change
#: that lowers one updates this table and says so.
VECTOR_PLAN_LEAVES = {
    "ivfadc_topk": 34, "pq_topk": 26, "pq_codes": 13, "pq_codebooks": 12,
    "semantic_dedup": 12, "ivfsq_topk": 11, "recall_at_k": 11,
    "ivf_topk": 9, "ivf_topk_sampled": 9, "knn_join": 9,
    "semantic_near_pairs": 8, "cluster_profile": 4, "assign_centroids": 4,
    "kmeans_centroids": 3, "kmeans_centroids_sampled": 3, "sq8_topk": 3,
    "sq8_codes": 2, "jl_topk": 2, "cosine_topk": 2, "lattice_l2_topk": 2,
    "bucketed_topk": 2, "bucketed_topk_multiprobe": 2,
    "project_embeddings": 1, "sq8_bounds": 1, "bucket_histogram": 1,
}


def test_vector_family_plan_sizes(spark):
    """Pins how often each public vector operator reads its input.  The
    input is a parquet table, so every read stays a leaf (a
    ``createDataFrame`` input folds to local relations instead)."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity as S

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ops = {
        "ivfadc_topk": S.ivfadc_topk(embs, 0),
        "pq_topk": S.pq_topk(embs, 0),
        "pq_codes": S.pq_codes(embs),
        "pq_codebooks": S.pq_codebooks(embs),
        "semantic_dedup": S.semantic_dedup(embs),
        "ivfsq_topk": S.ivfsq_topk(embs, 0),
        "recall_at_k": S.recall_at_k(S.cosine_topk(embs, 0),
                                     S.ivf_topk(embs, 0), 10),
        "ivf_topk": S.ivf_topk(embs, 0),
        "ivf_topk_sampled": S.ivf_topk_sampled(embs, 0),
        "knn_join": S.knn_join(embs.filter("vec_id % 100 = 0"), embs),
        "semantic_near_pairs": S.semantic_near_pairs(embs),
        "cluster_profile": S.cluster_profile(embs),
        "assign_centroids": S.assign_centroids(embs),
        "kmeans_centroids": S.kmeans_centroids(embs),
        "kmeans_centroids_sampled": S.kmeans_centroids_sampled(embs),
        "sq8_topk": S.sq8_topk(embs, 0),
        "sq8_codes": S.sq8_codes(embs),
        "jl_topk": S.jl_topk(embs, 0, 10),
        "cosine_topk": S.cosine_topk(embs, 0),
        "lattice_l2_topk": S.lattice_l2_topk(embs, 0),
        "bucketed_topk": S.bucketed_topk(embs, 0),
        "bucketed_topk_multiprobe": S.bucketed_topk_multiprobe(embs, 0),
        "project_embeddings": S.project_embeddings(embs),
        "sq8_bounds": S.sq8_bounds(embs),
        "bucket_histogram": S.bucket_histogram(embs),
    }

    def leaves(df):
        found = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return sum(found.apply(i).getClass().getSimpleName()
                   == "LogicalRelation" for i in range(found.size()))

    assert {name: leaves(df) for name, df in ops.items()} \
        == VECTOR_PLAN_LEAVES
