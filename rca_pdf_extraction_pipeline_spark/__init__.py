"""PySpark-native main-content extraction engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of ``martymcenroe/RCA-PDF-extraction-pipeline`` (a deterministic
single-process PDF table-extraction pipeline) as a distributed engine over an
Iceberg-style table of interleaved text+media documents:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Design stance (see SURVEY.md §7):
  * DataFrame / Catalyst end-to-end; all domain logic lives in vectorized
    numpy/pandas kernels invoked from ``mapInArrow`` — no per-row Python.
  * Documents are self-contained → the pipeline is one narrow stage; the only
    shuffle is the deliberate skew-defusing repartition on ``doc_id``.
  * Ordering is part of correctness: output span ``offset`` is computed
    deterministically inside the per-doc kernel, never from partition order.
"""

__version__ = "0.1.0"
