"""S5 document-metadata extraction (reference
``src/elementizer/extractor.py:62-76`` — title/author/subject/creator/
producer/dates/keywords/format/encryption pulled from the PDF metadata
dict) and the elementizer span search (reference
``src/elementizer/database.py:299-319`` — ``LIKE '%q%' LIMIT 100``).

Span model: metadata rides in the interleaved table as ``kind='meta'``
spans with payload ``"0|key=value"`` (page 0 = document scope), so the
same (doc_id, spans) schema carries it and parquet nested-column pruning
still applies.  Extraction is a pure DataFrame expression — explode,
take the payload content (``extraction.span_payload``, NULL without a
``|``), split it ONCE on the first '=' (values may contain '='), then a
pivot over the fixed field list; Catalyst keeps the whole thing
codegen'd with no Python.  At 100 TB the pivot is a single
groupBy(doc_id) whose input is already only the handful of meta spans
per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction import span_payload

#: reference extractor.py:64-76 field list, in output order
METADATA_FIELDS = [
    "title", "author", "subject", "creator", "producer",
    "creation_date", "modification_date", "keywords", "format", "encryption",
]


def extract_doc_metadata(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> (doc_id, title, author, ..., encryption).

    Missing fields are null (the reference's ``meta.get(...)``)."""
    s = docs.select("doc_id", F.explode("spans").alias("s")) \
            .filter(F.col("s.kind") == "meta")
    content = span_payload(F.col("s.text"))["content"]
    kv = s.select(
        "doc_id",
        F.get(F.split(content, "=", 2), 0).alias("k"),
        F.get(F.split(content, "=", 2), 1).alias("v"),
    ).filter(F.col("k").isNotNull())
    return (kv.groupBy("doc_id")
            .pivot("k", METADATA_FIELDS)
            .agg(F.first("v"))
            .select("doc_id", *METADATA_FIELDS))


def metadata_census(docs: DataFrame) -> DataFrame:
    """Per-value census of the ``producer`` metadata field (the reference
    prints a producer/format census in its summary path) — (producer,
    n_docs)."""
    meta = extract_doc_metadata(docs)
    return (meta.groupBy(F.coalesce(F.col("producer"), F.lit("(none)"))
                 .alias("producer"))
            .agg(F.count(F.lit(1)).alias("n_docs")))


#: vector-drawing span kinds completing the reference's ElementType enum
#: (``src/elementizer/models.py:8-18``: ...curve/path/annotation).  Their
#: drawing commands — the ``items_json`` payload of ``PathElement``
#: (``models.py:189-203``, DDL ``database.py:113-121``) — ride in the
#: content half of the span payload as ';'-separated commands, so the one
#: (doc_id, spans) schema carries the full element surface.
VECTOR_KINDS = ("path", "curve", "annotation")


def element_kind_census(docs: DataFrame) -> DataFrame:
    """Corpus-wide census over every span kind — (kind, n_spans, n_docs,
    total_items) ordered by kind.  ``total_items`` counts the drawing
    commands of vector kinds (path/curve/annotation items payload); text
    / media / rule kinds contribute 0.

    The real DB holds 183,665 path rows for ONE document
    (``docs/wiki/Extensions.md``), so at corpus scale this census is the
    first thing an ingest audit runs.  Shape: explode + one hash
    aggregate on a tiny key domain (|kinds| <= 10); count/sum partial-
    aggregate map-side, countDistinct(doc_id) expands to the standard
    two-phase distinct — all JVM expressions, no Python."""
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    content = span_payload(F.col("s.text"))["content"]
    items = F.when(
        F.col("s.kind").isin(*VECTOR_KINDS)
        & content.isNotNull() & (content != ""),
        F.size(F.split(content, ";"))).otherwise(F.lit(0))
    return (s.groupBy(F.col("s.kind").alias("kind"))
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(items).cast("long").alias("total_items"))
            .orderBy("kind"))


def search_spans(docs: DataFrame, needle: str, limit: int = 100) -> DataFrame:
    """Elementizer search parity (reference database.py:299-319):
    substring match over span payload text, deterministic order by
    (doc_id, offset), first ``limit`` rows.

    Scale note: this is a full scan by design (the reference runs
    LIKE '%q%' in SQLite, also unindexed); the LIMIT short-circuits via
    CollectLimit so Spark stops scanning once enough partitions produced
    ``limit`` rows."""
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    content = span_payload(F.col("s.text"))["content"]
    return (s.select("doc_id", F.col("s.kind").alias("kind"),
                     F.col("s.offset").alias("offset"),
                     content.alias("content"))
            .filter(F.col("content").contains(needle))
            .orderBy("doc_id", "offset")
            .limit(limit))
