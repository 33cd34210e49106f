"""Placement of the interleaved-docs table before extraction.

A document is one row — the per-doc kernels cannot split a row across
tasks — so a heavy document is never split.  ``salted_repartition``
range-partitions on (salt, doc_id), where the salt is
``xxhash64(doc_id) mod num_partitions``: the range partitioner samples
the keys and cuts partitions of about equal doc COUNT, whatever the
doc_id distribution (sequential ids, hot prefixes, ...).  It does not
weigh documents by size, so it does not keep heavy documents apart; the
Arrow byte cap (session.ARROW_MAX_BYTES) bounds per-batch memory within
a task instead: a batch holds at most the cap plus one document.

What the salt buys is the checkpoint write (plans/checkpoint.py).  The
bucket is ``xxhash64(doc_id) mod n_buckets``, the same hash as the salt,
so when ``num_partitions`` divides ``n_buckets`` each salt value of a
wave is one bucket and the range partitions follow bucket edges: a wave
writes at most ``num_partitions + buckets_in_wave - 1`` files.  A plain
``repartition(num_partitions, "doc_id")`` scatters every bucket over
every partition (400 one-span docs, 16 buckets, 4 waves, 8 partitions:
11 files a wave salted, up to 32 hashed;
tests/test_skew_and_scale.py::test_salted_waves_write_few_files).

Reference has no parallelism at all (docs/wiki/Performance.md:69-77 —
multiprocessing was projected but never implemented); this module is
the Spark-native replacement.

Scale notes (10^12 docs):
  * the salt is a deterministic hash — no Date/random, so replays and
    checkpoint resumes see identical placement;
  * `repartitionByRange` samples the salted key to build balanced range
    bounds — one sampling job and one shuffle, after which the pipeline
    is narrow to the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig


def salted_repartition(docs: DataFrame,
                       cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """Deterministic salt + range repartition on (salt, doc_id) into
    ``cfg.num_partitions`` partitions of about equal doc count; see the
    module docstring for what the salt buys the checkpoint write."""
    salted = docs.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(cfg.num_partitions))
    )
    return (
        salted.repartitionByRange(cfg.num_partitions, "_salt", "doc_id")
        .drop("_salt")
    )

