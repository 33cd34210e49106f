"""Streaming deduplication — the ingest-time half of the dedup family.

Batch dedup (operators/dedup.py) cleans a corpus at rest; a training-
data pipeline ALSO needs to suppress duplicates as documents arrive
(re-crawls, mirror sites, retry storms).  Two operators:

  * ``dedup_stream(docs)`` — exact streaming dedup on the md5 content
    digest via ``dropDuplicatesWithinWatermark``: state is bounded by
    the watermark horizon (keys older than the delay are evicted), so
    memory is O(arrival rate x horizon), not O(stream length) — the
    only safe shape for an unbounded crawl.
  * ``dedup_stream_unbounded(docs)`` — plain ``dropDuplicates`` for
    finite backfills where the key set fits in state and exact global
    uniqueness matters more than eviction.

Semantics vs batch: within one watermark horizon the stream emits
exactly the first arrival per content hash — the same keep-first
policy as ``operators.dedup.deduplicate_corpus`` (which keeps min id;
ingest order stands in for id order on a stream).  Duplicates farther
apart than the horizon are the batch job's responsibility — run it
periodically over the landed table; the two compose, not compete.

Scale notes: state shards on the content-hash exchange exactly like a
batch groupBy; RocksDB state store + watermark eviction keep per-
executor state bounded.  The digest is computed BEFORE the stateful
exchange so the full document text never enters the state store —
state rows carry (hash, timestamp) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_content_hash(docs: DataFrame) -> DataFrame:
    """Append the md5 content digest (the dedup key; 16 bytes of state
    per document instead of the document)."""
    return docs.withColumn("content_hash",
                           F.md5(F.col("text").cast("string")))


def dedup_stream(docs: DataFrame,
                 watermark_delay: str = "10 minutes") -> DataFrame:
    """First arrival per content hash within the watermark horizon.

    Input must be a STREAMING DataFrame with an event-time column;
    state for hashes older than ``watermark_delay`` is evicted, which
    is what makes this safe on an unbounded stream.
    """
    return (with_content_hash(docs)
            .withWatermark("event_time", watermark_delay)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def dedup_stream_unbounded(docs: DataFrame) -> DataFrame:
    """Exact streaming dedup with unbounded state — finite backfills
    only (state grows with the distinct-hash count forever)."""
    return (with_content_hash(docs)
            .dropDuplicates(["content_hash"]))


def incremental_pairs_stream(new_docs: DataFrame, index_keys: DataFrame,
                             watermark_delay: str = "10 minutes"
                             ) -> DataFrame:
    """Streaming near-dup detection against an indexed corpus: the
    ingest-time half of ``operators.dedup.incremental_candidate_pairs``.

    Each arriving document's MinHash band keys (a stateless narrow
    computation — shingle, fold, posexplode) join the STATIC stored
    band-key table on (band, band_key); a stream-static inner join is
    stateless in Structured Streaming, so the only state this query
    keeps is the pair-dedup below.  Multiple colliding bands emit the
    same (new_id, indexed_id) pair, so pairs are suppressed to first
    emission within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` on the pair key, same bounded-
    state shape as :func:`dedup_stream`.

    ``index_keys`` is :func:`operators.dedup.minhash_band_keys` output
    read from storage (see ``jobs/run_dedup_index.py``); refresh it
    periodically with the batch job — stream-static joins re-read the
    static side per micro-batch, picking up compacted snapshots.

    Returns (new_id, indexed_id, event_time): the arriving document, the
    stored near-duplicate it collided with, and the arrival time.
    """
    from ..operators.dedup import minhash_band_keys

    keys = minhash_band_keys(new_docs, keep_cols=("event_time",))
    nk = keys.select(F.col("doc_id").alias("new_id"), F.col("event_time"),
                     F.col("band"), F.col("band_key"))
    idx = index_keys.select(F.col("band"), F.col("band_key"),
                            F.col("doc_id").alias("indexed_id"))
    return (nk.join(idx, ["band", "band_key"])
            .select("new_id", "indexed_id", "event_time")
            .withWatermark("event_time", watermark_delay)
            .dropDuplicatesWithinWatermark(["new_id", "indexed_id"]))


def url_dedup_stream(docs: DataFrame,
                     watermark_delay: str = "10 minutes") -> DataFrame:
    """Ingest-time URL dedup: first arrival per NORMALIZED url within
    the watermark horizon — the streaming half of the batch URL family
    (operators/urls.url_duplicates), sharing the exact canonicalization
    expression so 'HTTPS://WWW.E.com/x/?utm_source=f' and
    'https://www.e.com/x' collide on arrival, not at the next batch
    sweep.  State rows carry the 16-byte md5 of the normalized url plus
    a timestamp — never the url string itself."""
    from ..operators.urls import normalize_url

    return (docs.withColumn("url_norm", normalize_url(F.col("url")))
            .withColumn("url_hash", F.md5(F.col("url_norm")))
            .withWatermark("event_time", watermark_delay)
            .dropDuplicatesWithinWatermark(["url_hash"]))


def batch_url_keep_first(docs: DataFrame) -> DataFrame:
    """Batch twin of :func:`url_dedup_stream`'s keep-first policy — one
    row per normalized url, smallest ``doc_id`` wins.  Pins
    stream == batch in tests."""
    from ..operators.urls import normalize_url

    w = (docs.withColumn("url_norm", normalize_url(F.col("url")))
         .withColumn("url_hash", F.md5(F.col("url_norm"))))
    first = w.groupBy("url_hash").agg(F.min("doc_id").alias("doc_id"))
    return w.join(first, ["url_hash", "doc_id"], "left_semi")


def batch_keep_first(docs: DataFrame) -> DataFrame:
    """Batch twin of the streaming keep-first policy: one row per
    content hash, the one with the smallest ``doc_id`` (arrival
    order).  Used by tests to pin stream == batch equivalence."""
    w = with_content_hash(docs)
    first = (w.groupBy("content_hash")
             .agg(F.min("doc_id").alias("doc_id")))
    return w.join(first, ["content_hash", "doc_id"], "left_semi")
