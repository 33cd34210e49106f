"""Streaming drift monitor — hashed-vocab bucket counts maintained over
an unbounded stream of incoming documents.

The (bucket, n) count table (``profiling.token_bucket_counts``) is an
algebraic monoid under bucket-wise sum, so a streaming aggregation in
update/complete mode keeps at most ``n_buckets`` state rows TOTAL —
constant state on an unbounded stream, same contract as the streaming
HLL registers.  At any point the streamed counts equal the batch
counts over the rows seen so far (pinned by test_streaming.py), and
``profiling.drift_from_counts`` joins them against a persisted old-
snapshot count artifact to produce the SAME report ``corpus_drift``
computes batch-side — one expression tree, two execution modes, the
drift dashboard updating per micro-batch as a corpus drop lands.

Scale: per micro-batch the map-side partial sum collapses each
partition to <= n_buckets rows before the state-store exchange; the
scoring join is n_buckets x n_buckets tiny-table math run batch-side
against the sink."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import profiling as P


def drift_bucket_stream(docs: DataFrame, n_buckets: int = 512) -> DataFrame:
    """Streaming (bucket, n) counts for a streaming document source:
    same expression tree as the batch builder.  Run with
    ``outputMode('complete')`` into a memory/table sink the scoring
    join reads, or ``'update'`` for delta-consuming sinks."""
    return P.token_bucket_counts(docs, n_buckets)
