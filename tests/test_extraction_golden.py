"""End-to-end golden tests: the synthetic 253-page twin of W20552.pdf must
classify and extract EXACTLY as the reference's committed golden outputs
(span-sequence equality on kind, text, media_ref, order — BASELINE.json
per-row invariant).

The tests drive the functions executors run — ``flat_from_batch`` ->
``_extract_batch_flat`` -> ``_assemble_batch`` over one Arrow batch, and
``_table_headers`` for the header view — without Spark."""

import pytest

from rca_pdf_extraction_pipeline_spark.config import (
    DEFAULT_CONFIG,
    GOLDEN_EXTRACTED_HEADERS,
)
from rca_pdf_extraction_pipeline_spark.kernels import headers as kheaders
from rca_pdf_extraction_pipeline_spark.operators.extraction import (
    _assemble_batch,
    _extract_batch_flat,
    _table_headers,
    classify_flat,
    flat_from_batch,
)
from rca_pdf_extraction_pipeline_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def golden_doc():
    return fx.build_golden_doc()


@pytest.fixture(scope="module")
def batch_result(golden_doc):
    return _extract_batch_flat(flat_from_batch(fx.docs_to_batch([golden_doc])))


def _assemble_docs(docs):
    """doc_id -> output span tuples, as ``extract_documents`` emits them."""
    batch = fx.docs_to_batch(docs)
    out = _assemble_batch(batch, _extract_batch_flat(flat_from_batch(batch)),
                          DEFAULT_CONFIG)
    return {
        row["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in row["spans"]]
        for row in out.to_pylist()
    }


def _span_tuples(doc):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in doc["spans"]]


def test_classification_matches_golden_253_pages(batch_result):
    got = batch_result["cls"][["page", "page_type"]].sort_values("page")
    want = fx.load_golden_classification().sort_values("page")
    assert len(got) == 253
    mism = [
        (int(p), g, w)
        for p, g, w in zip(want.page, got.page_type, want.page_type)
        if g != w
    ]
    assert mism == []


def test_table_pages_are_39_to_42(batch_result):
    tp = sorted(batch_result["table_pages"]["page"])
    assert tp == [39, 40, 41, 42]


def test_all_138_samples_match_golden_cells(batch_result):
    golden = fx.load_golden_rows().sort_values("row_idx").reset_index(drop=True)
    got = batch_result["samples"].sort_values("row_idx").reset_index(drop=True)
    assert len(got) == 138
    cell_cols = [c for c in golden.columns if c not in ("row_idx", "page_number")]
    for c in cell_cols:
        mism = [(i, a, b) for i, (a, b) in enumerate(zip(got[c], golden[c])) if a != b]
        assert mism == [], f"column {c}: {mism[:5]}"
    assert [str(p) for p in got.page_number] == list(golden.page_number)


def test_rows_per_page_distribution(batch_result):
    counts = batch_result["samples"].groupby("page_number").size().to_dict()
    assert counts == {39: 44, 40: 44, 41: 44, 42: 6}


def test_headers_flattened_on_all_table_pages(batch_result):
    hdr = _table_headers(batch_result["flat"], batch_result["table_pages"])
    for page in (39, 40, 41, 42):
        h = hdr[hdr.page == page].sort_values("col")["header"].tolist()
        assert h == GOLDEN_EXTRACTED_HEADERS[:-1], f"page {page}"


def test_golden_span_sequence_equality(golden_doc):
    got = _assemble_docs([golden_doc])[golden_doc["doc_id"]]
    want = _span_tuples(fx.expected_golden_output())
    assert len(got) == len(want) == 12 + 138 * 12 + 4
    assert got == want


def test_documents_path_runs_no_header_flatten(golden_doc, monkeypatch):
    """The output's header fields are the constant golden list, so the
    ``extract_documents`` batch path must never run H1."""
    def fail(spans):
        raise AssertionError("flatten_headers called")

    monkeypatch.setattr(kheaders, "flatten_headers", fail)
    got = _assemble_docs([golden_doc])[golden_doc["doc_id"]]
    assert got == _span_tuples(fx.expected_golden_output())


def test_every_fixture_doc_is_batch_independent(golden_doc):
    """Batches hold whole partitions: a doc's span sequence in one Arrow
    batch with every other fixture doc equals its sequence extracted
    alone."""
    # the parser-branch docs include media-nosample
    docs = [golden_doc, *fx.build_parser_branch_docs(),
            *fx.build_classify_docs(), fx.build_grid_doc(),
            fx.build_vector_art_doc(),
            *fx.build_skew_docs(n_small=8, big_factor=12),
            *fx.build_malformed_docs()]
    together = _assemble_docs(docs)
    assert len(together) == len(docs)
    for doc in docs:
        alone = _assemble_docs([doc])
        assert together[doc["doc_id"]] == alone[doc["doc_id"]], doc["doc_id"]


def test_parser_branch_docs_span_equality():
    out = _assemble_docs(fx.build_parser_branch_docs())
    for doc_id, got in out.items():
        assert got == _span_tuples(fx.expected_branch_output(doc_id)), doc_id


def test_vector_art_kinds_round_trip_untouched(golden_doc):
    """path/curve/annotation spans (reference ElementType enum,
    models.py:8-18) are structural vector art: batching the vector-art
    doc with the golden doc must leave the golden span sequence
    byte-identical, and the vector doc itself must emit no text/table
    output (no golden artifact claims it)."""
    solo = _assemble_docs([golden_doc])
    mixed = _assemble_docs([golden_doc, fx.build_vector_art_doc()])
    assert mixed["golden-doc-w20552"] == solo["golden-doc-w20552"]
    # the vector doc's output contains no decoded samples, only media
    va = mixed.get("vector-art", [])
    assert all(k in ("image",) for k, _, _, _ in va)


def test_element_kind_census_counts_vector_kinds(spark):
    from rca_pdf_extraction_pipeline_spark.operators import metadata

    docs = fx.docs_to_spark(spark, [fx.build_vector_art_doc()])
    got = {r["kind"]: (r["n_spans"], r["n_docs"], r["total_items"])
           for r in metadata.element_kind_census(docs).collect()}
    assert got["path"] == (2, 1, 6)        # 4 + 2 drawing commands
    assert got["curve"] == (1, 1, 2)
    assert got["annotation"] == (2, 1, 2)  # 1 item each (no ';')
    assert got["line"] == (1, 1, 0)
    assert got["rect"] == (1, 1, 0)
    assert got["image"] == (1, 1, 0)
    assert got["text"] == (1, 1, 0)


def test_media_emission_is_batch_independent(golden_doc):
    """A doc's span sequence must not depend on what else shares its Arrow
    batch (determinism invariant). media-nosample has a table page with an
    image but no decodable samples: alone or batched with the sample-rich
    golden doc, its output is identical — headers only, no image span."""
    doc = fx.build_media_nosample_doc()
    alone = _assemble_docs([doc])[doc["doc_id"]]
    together = _assemble_docs([doc, golden_doc])[doc["doc_id"]]
    assert alone == together
    assert alone == _span_tuples(fx.expected_branch_output(doc["doc_id"]))
    assert [k for k, *_ in alone] == ["field"] * len(GOLDEN_EXTRACTED_HEADERS)

    # and the golden doc's own sequence is unchanged by the extra neighbor
    g_together = _assemble_docs([doc, golden_doc])[golden_doc["doc_id"]]
    g_alone = _assemble_docs([golden_doc])[golden_doc["doc_id"]]
    assert g_together == g_alone


def test_classify_archetype_docs():
    batch = fx.docs_to_batch(fx.build_classify_docs())
    cls = classify_flat(flat_from_batch(batch))
    doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
    got = dict(zip(doc_ids[cls.doc_pos.to_numpy()], cls.page_type))
    assert got == {
        "classify-plot": "plot",
        "classify-cover": "cover",
        "classify-text": "text",
        "classify-other": "other",
        "classify-table": "table",
    }
