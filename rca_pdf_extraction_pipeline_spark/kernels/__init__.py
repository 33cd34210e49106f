"""Vectorized numpy/pandas kernels — the engine's domain logic.

Each kernel is a plain function over pandas/numpy structures, unit-testable
without Spark, and called from the Arrow-batched ``mapInArrow`` stages of
the extraction operators (operators/extraction.py).  No per-row Python at
the Spark level; inside a kernel everything is batch columnar (numpy
masks/gathers, pandas str ops).
"""

from . import classify, headers, samples, sanitize, simtext  # noqa: F401
