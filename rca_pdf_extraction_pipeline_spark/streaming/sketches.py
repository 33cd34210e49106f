"""Streaming sketches — HyperLogLog registers maintained over an
unbounded stream.

The register table (operators/sketches.hll_registers) is an algebraic
monoid under bucket-wise max, which is exactly what a streaming
aggregation needs: ``groupBy(bucket).max(rank)`` in update/complete
mode keeps at most ``2^p`` state rows TOTAL — constant state on an
unbounded stream, the defining property of a sketch.  The stream's
registers at any point equal the batch registers over the rows seen so
far (pinned by test_streaming.py), so the batch estimator
``operators.sketches.hll_estimate`` reads either side unchanged.

Scale: state shards on the bucket exchange like any streaming agg;
``2^p`` rows of (bucket, max_rank) fit any state store at any p we
allow.  Per micro-batch the map-side partial max collapses each
partition to <= 2^p rows before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import sketches as S


def hll_register_stream(values: DataFrame) -> DataFrame:
    """Streaming register table for a streaming input's ``v`` column:
    same expression tree as the batch builder (one code path, two execution modes).
    Run with ``outputMode('update')`` (state-efficient deltas) or
    ``'complete'`` (full table per batch, e.g. into a memory sink for
    the estimator)."""
    return S.hll_registers(values, "v", ())
