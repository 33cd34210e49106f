"""Exact-substring deduplication — find maximal token ranges that are
duplicated across documents (the n-gram formulation of Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better": their
suffix-array match-ranges re-expressed as duplicated k-gram position
islands, the standard shuffle-friendly equivalent).

Pipeline (all DataFrame ops, no UDFs):

  1. posexplode token k-grams  -> (doc_id, pos, gram_hash)   [narrow]
  2. gram_hash appearing in >=2 distinct docs                [1 shuffle]
  3. semi-join positions to duplicated hashes                [co-partitioned]
  4. gaps-and-islands per doc: consecutive duplicated positions merge
     into maximal ranges (window + groupBy)                  [1 shuffle on doc]

Scale design (100 TB): the gram table is ~n_tokens rows but carries only
(doc_id, pos, 16-hex-char hash) — the gram STRING never shuffles.  Step 2
partial-aggregates map-side; step 3 reuses step 2's hash partitioning;
step 4 shuffles once on doc_id.  Skewed grams (boilerplate) cap out at
the distinct-doc count filter and AQE's skew-join split.

Cross-engine: the gram hash is md5-derived (functions/hashing.py) so a
DuckDB oracle replays every step exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

#: default match unit — 8 contiguous word tokens, a common public
#: setting for exact-substring training-data dedup
DEFAULT_K = 8


def _gram_positions(docs: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id_col, pos, gh) — 0-based token position and md5-prefix hash of the
    k-gram starting there.  Documents shorter than ``k`` tokens emit no
    rows (an exact-substring match needs at least one full unit; whole-
    document duplicates that short belong to exact dedup).

    The token array is projected into its OWN column layer before the
    gram lambda touches it: the gram at position i references the
    tokens k times (one ``element_at`` per gram slot), and Catalyst
    inlines expression-aliases into HOF lambdas without CSE — with the
    tokenization inline, every reference re-ran filter(split(text)),
    O(k * n_tokens) full tokenizations per document (measured: the
    sf0.1x3 corpus went from minutes to seconds when hoisted).
    CollapseProject keeps the layer because a non-cheap alias with >1
    reference is never merged (same fix as simhash's hv — CLAUDE.md)."""
    tok_df = docs.select(F.col(id_col),
                         T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)

    def gram(i):  # i is the 0-based start position (lambda Column)
        return F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(k)])

    grams = F.when(n >= k, F.transform(F.sequence(F.lit(0), n - k), gram)) \
             .otherwise(F.array().cast("array<string>"))
    hashed = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    return tok_df.select(
        F.col(id_col), F.posexplode(hashed).alias("pos", "gh"))


def duplicated_ngram_positions(docs: DataFrame, k: int = DEFAULT_K,
                               max_docs_per_gram: int | None = None) -> DataFrame:
    """(doc_id, pos, gh) for every token position whose k-gram also occurs
    in at least one OTHER document (cross-document duplication only —
    within-document repetition is a quality signal, not dedup;
    see textanalysis.repetition_stats).

    ``max_docs_per_gram`` drops grams present in MORE than that many
    documents: a gram shared by a large fraction of the corpus is
    boilerplate (headers, license blurbs) — a hot join key whose
    position fan-out is the one skew risk of this operator — and
    belongs to the frequent-line/boilerplate removers, not substring
    dedup.  None (default) keeps everything.
    """
    grams = _gram_positions(docs, "doc_id", k)
    dup = (grams.groupBy("gh")
           .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
           .filter(F.col("n_docs") >= 2))
    if max_docs_per_gram is not None:
        dup = dup.filter(F.col("n_docs") <= max_docs_per_gram)
    return grams.join(dup.select("gh"), "gh", "left_semi")


def duplicated_ranges(docs: DataFrame, k: int = DEFAULT_K,
                      min_tokens: int | None = None,
                      max_docs_per_gram: int | None = None) -> DataFrame:
    """Maximal duplicated token ranges per document.

    Returns (doc_id, start_tok, end_tok, n_dup_tokens): ``start_tok`` is the
    0-based token index of the first token of the range, ``end_tok`` the
    index of its last token (inclusive, = last duplicated k-gram start
    + k - 1), ``n_dup_tokens`` the range length.  A range is maximal:
    every k-gram starting inside [start_tok, end_tok - k + 1] is
    duplicated and the grams just outside are not.

    ``min_tokens`` drops ranges shorter than the threshold (Lee et al.
    use 50 BPE tokens; defaults to ``k`` = keep all).
    """
    min_tokens = k if min_tokens is None else min_tokens
    pos = duplicated_ngram_positions(docs, k, max_docs_per_gram)
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = pos.withColumn(
        "grp", F.col("pos") - F.row_number().over(w))
    ranges = (islands.groupBy("doc_id", "grp")
              .agg(F.min("pos").alias("start_tok"),
                   (F.max("pos") + F.lit(k - 1)).alias("end_tok"))
              .withColumn("n_dup_tokens",
                          F.col("end_tok") - F.col("start_tok") + 1)
              .filter(F.col("n_dup_tokens") >= min_tokens)
              .drop("grp"))
    return ranges.orderBy("doc_id", "start_tok")


def trim_duplicated_ranges(docs: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """The removal step over :func:`duplicated_ranges` (Lee et al.'s
    ExactSubstr dedup applies exactly this cut): rewrite every document
    with its maximal duplicated token ranges REMOVED and the surviving
    tokens reassembled in order.  Conservative: ALL occurrences are
    cut; keep-one-copy semantics at coarser granularity live in
    ``dedup.dedup_paragraphs`` (paragraph keep-first) and the curation
    exact dedup (whole documents).

    Returns (doc_id, clean_text, n_tokens, n_removed) for every document
    with at least one token (``clean_text = ''`` when everything was
    inside a duplicated range).

    Scale shape: the ranges aggregate to a handful of SLIM rows per
    affected doc, so the rewrite is one left join of the tokenized
    corpus to a per-doc ``collect_list`` of ranges followed by a
    narrow index-aware filter — no token explosion and no second gram
    pass; the gram stage inside :func:`duplicated_ranges` stays the
    only corpus-wide shuffle.
    """
    ranges = duplicated_ranges(docs, k)
    per_doc = ranges.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_rs"))
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("_tk"))
    joined = toks.join(per_doc, "doc_id", "left")
    rs = F.coalesce(
        F.col("_rs"),
        F.array().cast("array<struct<start_tok:int,end_tok:int>>"))
    kept = F.filter(F.col("_tk"), lambda x, i: ~F.exists(
        rs, lambda r: (r["start_tok"] <= i) & (i <= r["end_tok"])))
    return joined.select(
        F.col("doc_id"),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_removed"))


def contamination_report(docs: DataFrame, benchmarks: DataFrame,
                         k: int = DEFAULT_K) -> DataFrame:
    """Benchmark decontamination scan (the GPT-3-style n-gram overlap
    check, public methodology): which training documents share any
    token ``k``-gram with the benchmark/eval corpus, and how much.

    Returns (doc_id, n_contaminated_positions) for contaminated documents
    only.  The benchmark side reduces to its DISTINCT gram hashes —
    benchmark suites are tiny next to a training corpus, so that set
    broadcasts and the scan stays narrow: no shuffle of the corpus at
    all, just a broadcast semi-join inside the gram stage.
    """
    bench_grams = (
        _gram_positions(benchmarks.select("text", F.lit("b").alias("_bid")),
                        "_bid", k)
        .select("gh").distinct())
    corpus_grams = _gram_positions(docs, "doc_id", k)
    hits = corpus_grams.join(F.broadcast(bench_grams), "gh", "left_semi")
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated_positions"))
            .orderBy("doc_id"))


def decontaminate(docs: DataFrame, benchmarks: DataFrame,
                  k: int = DEFAULT_K) -> DataFrame:
    """Drop every document sharing at least one token k-gram with the
    benchmark corpus (conservative decontamination: any overlap
    disqualifies).  Anti-join on the contamination report."""
    report = contamination_report(docs, benchmarks, k)
    return docs.join(report.select("doc_id"), "doc_id", "left_anti")


def duplication_profile(docs: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Per-document duplication summary — the filter signal a pipeline
    thresholds on before paying for range-level surgery.

    Returns (doc_id, n_tokens, dup_tokens, dup_frac): ``dup_tokens`` is the
    total token count covered by duplicated ranges (ranges are disjoint
    by construction, so a plain sum is exact); docs with no duplicated
    range report 0 / 0.0.
    """
    base = docs.select(F.col("doc_id"),
                       T.n_tokens(F.col("text")).alias("n_tokens"))
    per_doc = (duplicated_ranges(docs, k)
               .groupBy("doc_id")
               .agg(F.sum("n_dup_tokens").alias("dup_tokens")))
    return (base.join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"), F.col("n_tokens"),
                    F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
                    F.round(F.coalesce(F.col("dup_tokens"), F.lit(0))
                            / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                    .alias("dup_frac")))
