"""Corpus curation — the end-to-end training-data cleaning pipeline
that composes the individual operators: language gate, quality gate,
repetition gate, exact + near dedup, PII masking.

The decision layer is ONE narrow pass: every per-doc signal (language,
quality, repetition) joins into a single ``reject_reason`` column, so
per-reason statistics are a tiny groupBy over that column — no
count-per-stage action storm.  Only documents that survive the gates
enter the (shuffling) dedup stages; the expensive work runs on the
smallest possible corpus.

Scale notes (100 TB): signals are narrow column expressions or
bounded-cardinality aggregations (see the component operators'
docstrings); the gates cut the corpus BEFORE the dedup shuffles; the
final mask is a narrow regexp pass.  Per-stage row counts come from the
same DataFrames the pipeline writes — observable via one summary
aggregation, not extra scans.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as dedup_ops
from .textanalysis import language_id, pii_stats, quality_scores, repetition_stats


@dataclass(frozen=True)
class CurationConfig:
    keep_langs: tuple[str, ...] = ("en",)
    min_quality: float = 0.45
    max_top2gram: float = 0.35
    max_dup5gram: float = 0.35
    mask_pii: bool = True
    near_dedup: bool = True


DEFAULT_CURATION = CurationConfig()


def curation_signals(docs: DataFrame,
                     cfg: CurationConfig = DEFAULT_CURATION) -> DataFrame:
    """(id, pred_lang, quality_score, top_2gram_frac, dup_5gram_frac,
    reject_reason) — ``reject_reason`` is the FIRST failing gate in the
    fixed order lang -> quality -> repetition, or 'keep'.

    Cascade order matches public curation pipelines (language first:
    it is the cheapest and the other heuristics assume the language).
    """
    lang = language_id(docs)
    qual = quality_scores(docs).select("doc_id", "quality_score")
    rep = repetition_stats(docs)
    j = (lang.select("doc_id", "pred_lang")
         .join(qual, "doc_id").join(rep, "doc_id"))
    reason = (
        F.when(~F.col("pred_lang").isin(*cfg.keep_langs), F.lit("lang"))
        .when(F.col("quality_score") < cfg.min_quality, F.lit("quality"))
        .when((F.col("top_2gram_frac") > cfg.max_top2gram)
              | (F.col("dup_5gram_frac") > cfg.max_dup5gram),
              F.lit("repetition"))
        .otherwise(F.lit("keep")))
    return j.select("doc_id", "pred_lang", "quality_score",
                    "top_2gram_frac", "dup_5gram_frac",
                    reason.alias("reject_reason"))


def curate(docs: DataFrame,
           cfg: CurationConfig = DEFAULT_CURATION) -> DataFrame:
    """The curated corpus: gates -> exact dedup (keep-min-id) ->
    optional MinHash near-dedup -> optional PII masking.

    Returns the surviving documents with the original columns, text
    replaced by the masked text when ``cfg.mask_pii``.
    """
    flags = curation_signals(docs, cfg)
    kept = docs.join(
        flags.filter(F.col("reject_reason") == "keep").select("doc_id"),
        "doc_id", "left_semi")

    # exact dedup: drop every member of a hash group except the min id.
    # Plain shuffle join on the 16-byte digest (same exchange the group
    # aggregation needs anyway); AQE broadcasts it when the duplicate
    # group table turns out tiny, which it usually is.
    exact = dedup_ops.exact_duplicates(kept)
    losers = (kept.select(F.md5(F.col("text").cast("string"))
                          .alias("content_hash"), F.col("doc_id"))
              .join(exact.select("content_hash", "canonical_id"),
                    "content_hash")
              .filter(F.col("doc_id") != F.col("canonical_id"))
              .select("doc_id"))
    kept = kept.join(losers, "doc_id", "left_anti")

    if cfg.near_dedup:
        kept = dedup_ops.deduplicate_corpus(kept)

    if cfg.mask_pii:
        masked = pii_stats(kept).select("doc_id", "masked_text")
        kept = (kept.drop("text").join(masked, "doc_id")
                .withColumnRenamed("masked_text", "text"))
    return kept


def curation_report(docs: DataFrame,
                    cfg: CurationConfig = DEFAULT_CURATION) -> DataFrame:
    """(reject_reason, n_docs) — the gate funnel, one tiny aggregation."""
    return (curation_signals(docs, cfg)
            .groupBy("reject_reason")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def source_report(docs: DataFrame) -> DataFrame:
    """Per-source curation dashboard (the per-domain quality table of
    RefinedWeb-style pipelines): for each source, document count, mean
    quality score, keep rate through the gates, and the per-reason
    rejection counts — the table a curator reads to decide which
    sources to drop wholesale.

    One join of the per-doc signals back to the source column, then one
    aggregation on the tiny source key.  Deterministic: means divide
    exact integer sums of the already-rounded per-doc signals.
    """
    sig = curation_signals(docs)
    j = docs.select(F.col("doc_id"), F.col("source")).join(sig, "doc_id")
    # exact mean: per-doc scores are 6-dp-rounded doubles; quantize to
    # integer micro-units so the cross-row sum has no float order drift
    q_micro = F.round(F.col("quality_score") * F.lit(1_000_000.0), 0) \
        .cast("long")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum(q_micro) / F.lit(1_000_000.0)
                         / F.count(F.lit(1)), 6).alias("mean_quality"),
                 F.sum((F.col("reject_reason") == "keep").cast("long"))
                 .alias("n_keep"),
                 F.sum((F.col("reject_reason") == "lang").cast("long"))
                 .alias("n_lang"),
                 F.sum((F.col("reject_reason") == "quality").cast("long"))
                 .alias("n_quality"),
                 F.sum((F.col("reject_reason") == "repetition").cast("long"))
                 .alias("n_repetition"))
            .withColumn("keep_rate",
                        F.round(F.col("n_keep") / F.col("n_docs"), 6))
            .orderBy("source"))
