"""Skew defusal for the interleaved-docs table (north_rule requirement).

A document is one row — the per-doc kernels cannot split a row across
tasks — so oversized-PDF skew is defused by *placement*, not by
splitting: salt + range-repartition spreads doc_ids uniformly and
keeps any heavy document from sharing a task queue slot with other
heavy documents, and the Arrow byte cap (session.ARROW_MAX_BYTES)
bounds per-batch memory within a task: a batch holds at most the cap
plus one document.

Reference has no parallelism at all (docs/wiki/Performance.md:69-77 —
multiprocessing was projected but never implemented); this module is
the Spark-native replacement.

Scale notes (10^12 docs):
  * the salt is a deterministic hash — no Date/random, so replays and
    checkpoint resumes see identical placement;
  * `repartitionByRange` samples the salted key to build balanced range
    bounds — one shuffle, after which the pipeline is narrow to the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig


def salted_repartition(docs: DataFrame,
                       cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """Deterministic salt + range repartition on (salt, doc_id).

    Uniformly spreads documents over ``cfg.num_partitions`` regardless
    of doc_id distribution (sequential ids, hot prefixes, ...).
    """
    salted = docs.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(cfg.num_partitions))
    )
    return (
        salted.repartitionByRange(cfg.num_partitions, "_salt", "doc_id")
        .drop("_salt")
    )

