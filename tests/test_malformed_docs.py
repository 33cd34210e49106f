"""Malformed-input robustness: every span-consuming operator must handle
degenerate documents without crashing — empty spans arrays, payloads
with no '|' separator, unparseable geometry, null kinds/fields.

These are the `empty` / `no-sep` / `garbage-geo` / `null-kind` probes
the verify recipe drives; this file pins them in CI."""

from __future__ import annotations

import pytest

from rca_pdf_extraction_pipeline_spark.operators import metadata, tablegrid
from rca_pdf_extraction_pipeline_spark.operators.extraction import (
    classify_documents,
    classify_documents_structural,
    extract_documents,
)
from rca_pdf_extraction_pipeline_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def bad_docs(spark):
    return fx.docs_to_spark(spark, fx.build_malformed_docs())


def test_extraction_survives_malformed_docs(bad_docs):
    out = {r["doc_id"]: r["spans"] for r in extract_documents(bad_docs).collect()}
    assert set(out) == {"empty", "no-sep", "garbage-geo", "null-kind",
                        "null-offset"}
    # none of these are table docs -> all outputs empty, but PRESENT
    assert all(len(s) == 0 for s in out.values())


def test_classifiers_survive_malformed_docs(bad_docs):
    classify_documents(bad_docs).collect()            # must not raise
    classify_documents_structural(bad_docs).collect()


def test_tablegrid_survives_malformed_docs(bad_docs):
    cells = tablegrid.extract_table_cells(bad_docs).collect()
    # garbage geometry cannot form a grid; nothing asserted but no-crash
    assert cells == []
    warns = tablegrid.page_range_warnings(bad_docs, [5]).collect()
    assert {r["doc_id"] for r in warns} <= {
        "empty", "no-sep", "garbage-geo", "null-kind", "null-offset"}


def test_run_full_anomaly_channel(bad_docs, spark):
    """Reference parity with ``pdf_dissector.py:63-71``: a malformed page
    appends a warning string to the per-doc ``anomalies`` channel instead
    of silently vanishing, and the channel rides into the full-pipeline
    summaries (the JSON bundle analogue of ``:221``)."""
    from rca_pdf_extraction_pipeline_spark.jobs import run_full

    anom = {r["doc_id"]: list(r["anomalies"])
            for r in run_full.doc_anomalies(bad_docs).collect()}
    # EVERY input doc has the channel, clean docs get []
    assert set(anom) == {"empty", "no-sep", "garbage-geo", "null-kind",
                         "null-offset"}
    assert anom["empty"] == ["Document has no spans"]
    assert anom["no-sep"] == ["Span 0: payload missing separator"]
    assert anom["garbage-geo"] == ["Span 0: unparseable page",
                                   "Page 1: unparseable geometry"]
    assert anom["null-kind"] == ["Span 0: null kind"]
    assert anom["null-offset"] == []

    good = fx.docs_to_spark(spark, [{"doc_id": "clean", "spans": [
        {"kind": "text", "text": "1,10,10,20,20|fine", "media_ref": None,
         "offset": 0}]}])
    clean = run_full.doc_anomalies(good).collect()
    assert [(r["doc_id"], list(r["anomalies"])) for r in clean] == \
        [("clean", [])]

    # the channel is wired into the pipeline's summary frame
    stages = run_full.full_pipeline(bad_docs)
    assert "anomalies" in stages
    assert "anomalies" in stages["summaries"].columns


def test_metadata_and_search_survive_malformed_docs(bad_docs):
    assert metadata.extract_doc_metadata(bad_docs).collect() == []
    hits = metadata.search_spans(bad_docs, "ok", limit=10).collect()
    assert [(r["doc_id"], r["content"]) for r in hits] == [("null-kind", "ok")]
