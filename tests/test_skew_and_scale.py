"""Skew defusal (operators/skew.py) + partitioning determinism:
output span sequences must be identical under any partitioning
(SURVEY.md §7.4.2) and docs must spread across partitions."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.config import ExtractionConfig
from rca_pdf_extraction_pipeline_spark.operators import skew
from rca_pdf_extraction_pipeline_spark.operators.extraction import extract_documents
from rca_pdf_extraction_pipeline_spark.session import ARROW_MAX_BYTES
from rca_pdf_extraction_pipeline_spark.sources import fixtures


def _collect_spans(df):
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in rows
    }


def test_salted_repartition_spreads_docs(spark):
    docs = fixtures.docs_to_spark(spark, fixtures.build_skew_docs(n_small=40,
                                                                 big_factor=20))
    cfg = ExtractionConfig(num_partitions=8)
    parts = (skew.salted_repartition(docs, cfg)
             .withColumn("pid", F.spark_partition_id())
             .groupBy("pid").count().collect())
    # docs spread over many partitions, no partition hogs the majority
    assert len(parts) >= 4
    assert max(p["count"] for p in parts) <= 41 * 0.5


def test_extraction_invariant_under_partitioning(spark):
    """Same output span sequences at 1, 3, and 16 partitions, with and
    without skew defusal — order is computed per-doc, never from
    partition order."""
    docs_list = fixtures.build_skew_docs(n_small=10, big_factor=8)
    docs = fixtures.docs_to_spark(spark, docs_list)

    baseline = _collect_spans(extract_documents(docs.coalesce(1)))
    for variant in [
        docs.repartition(3),
        docs.repartition(16, "doc_id"),
        skew.salted_repartition(docs, ExtractionConfig(num_partitions=16)),
    ]:
        assert _collect_spans(extract_documents(variant)) == baseline


def test_structural_classifier_on_table_spans(spark):
    """C2 over real span geometry: non-page-1 table pages with grid
    lines classify as 'table' @0.9 (page_classifier.py:78-83)."""
    from rca_pdf_extraction_pipeline_spark.operators.extraction import (
        classify_documents_structural,
    )
    docs = fixtures.docs_to_spark(spark, fixtures.build_skew_docs(n_small=3,
                                                                 big_factor=4))
    out = classify_documents_structural(docs).collect()
    small = [r for r in out if r["doc_id"].startswith("skew-small")]
    assert small and all(r["page_type"] == "table" and r["confidence"] == 0.9
                         for r in small)
    big = [r for r in out if r["doc_id"] == "skew-big"]
    assert len(big) == 4 and all(r["page_type"] == "table" for r in big)


def test_extraction_invariant_under_span_permutation(spark):
    """Reading order is computed from geometry/offsets, never from the
    input array order: a deterministically shuffled spans array must
    extract to the identical output sequence."""
    import random

    golden = fixtures.build_golden_doc()
    shuffled = {"doc_id": golden["doc_id"], "spans": list(golden["spans"])}
    random.Random(42).shuffle(shuffled["spans"])

    a = _collect_spans(extract_documents(
        fixtures.docs_to_spark(spark, [golden])))
    b = _collect_spans(extract_documents(
        fixtures.docs_to_spark(spark, [shuffled])))
    assert a == b
    assert len(a["golden-doc-w20552"]) == 12 + 138 * 12 + 4


def test_arrow_batches_are_byte_bounded(spark):
    """``mapInArrow`` input batches are cut by ``ARROW_MAX_BYTES``, not
    by a record count.  Spark checks the cap before it adds each row, so
    every batch is under the cap without its last row, and a row larger
    than the cap ends its batch.  Small rows share a batch far past 64
    records."""
    cap = ARROW_MAX_BYTES
    big = 5 << 20

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "n": [b.num_rows],
                "head_bytes": [b.slice(0, b.num_rows - 1).nbytes]})

    got = {}
    for name, row_bytes, n_rows in [("small", "10", 1000),
                                    ("medium", "16384", 600),
                                    ("mixed", f"if(id % 3 = 2, {big}, 1000)", 6)]:
        df = spark.range(n_rows, numPartitions=1).select(
            "id", F.expr(f"repeat('x', {row_bytes})").alias("s"))
        got[name] = df.mapInArrow(sizes, "n long, head_bytes long").collect()
        assert sum(r["n"] for r in got[name]) == n_rows, name
        assert all(r["head_bytes"] < cap for r in got[name]), (name, got[name])
    assert [r["n"] for r in got["small"]] == [1000]
    assert len(got["medium"]) >= 3
    assert max(r["n"] for r in got["medium"]) > 64
    # each 5 MiB row ends the batch its two small predecessors started
    assert [r["n"] for r in got["mixed"]] == [3, 3]
