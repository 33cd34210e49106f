"""S9 table-grid inference, F8 page guard, S5 metadata, span search, and
the pure-numpy BMP codec — semantic tests beyond the DuckDB oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.kernels import tablegrid as ktg
from rca_pdf_extraction_pipeline_spark.operators import (
    consolidate,
    metadata,
    multimodal,
    tablegrid,
)
from rca_pdf_extraction_pipeline_spark.operators.extraction import flat_from_batch
from rca_pdf_extraction_pipeline_spark.sources import fixtures as fx


def _kernel_cells(docs):
    batch = fx.docs_to_batch(docs)
    out = ktg.infer_grid_tables(flat_from_batch(batch))
    doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
    out["doc_id"] = doc_ids[out["doc_pos"].to_numpy(dtype=np.int64)]
    return list(out[["doc_id", "page", "table_index", "row_idx", "col_idx",
                     "cell", "is_header", "confidence"]]
                .itertuples(index=False, name=None))


def test_grid_doc_kernel_matches_expected():
    got = [(p, t, r, c, cell, h, conf) for _, p, t, r, c, cell, h, conf
           in _kernel_cells([fx.build_grid_doc()])]
    assert got == fx.expected_grid_cells()


def test_snap_tolerance_merges_near_rulings():
    """The duplicate ruling at y=100.8 (within snap_tol=3 of y=100) must
    not create a phantom 1-pt-high row: page 1 stays a 4-row grid."""
    doc = fx.build_grid_doc()
    rows = {r for _, p, _, r, *_ in _kernel_cells([doc]) if p == 1}
    assert rows == {0, 1, 2}          # header + 2 surviving data rows


def test_no_table_from_single_rect_or_single_line():
    """<2 raw rows (1x1 rect grid) and text-only single-row pages must
    produce nothing (reference table_extractor.py:73 len>=2 gate)."""
    doc = {"doc_id": "neg", "spans": [
        {"kind": "rect", "text": "1,60,500,200,560|", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "1,70,520,180,530|inside box", "media_ref": None, "offset": 1},
    ]}
    assert _kernel_cells([doc]) == []


def test_fallback_requires_two_rows_and_two_cols():
    doc = {"doc_id": "onecol", "spans": [
        {"kind": "text", "text": f"1,40,{100 + 20 * i},120,{110 + 20 * i}|r{i}",
         "media_ref": None, "offset": i}
        for i in range(4)
    ]}
    assert _kernel_cells([doc]) == []     # 4 rows but a single x0 cluster


def test_empty_header_row_still_counts_as_headers():
    """Reference keeps a table whose header cells are all empty strings
    (truthy non-empty list) as long as a data row has text."""
    spans = []
    off = 0
    for y in (100, 120, 140):
        spans.append({"kind": "line", "text": f"1,50,{y},350,{y}|",
                      "media_ref": None, "offset": off}); off += 1
    for x in (50, 150, 250):
        spans.append({"kind": "line", "text": f"1,{x},100,{x},140|",
                      "media_ref": None, "offset": off}); off += 1
    spans.append({"kind": "text", "text": "1,90,128,110,136|datum",
                  "media_ref": None, "offset": off})
    cells = _kernel_cells([{"doc_id": "emptyhdr", "spans": spans}])
    by_row = {}
    for _, _, _, r, c, cell, h, _ in cells:
        by_row.setdefault(r, []).append(cell)
    assert by_row[0] == ["", ""]          # kept empty header row
    assert by_row[1] == ["datum", ""]


def test_operator_matches_kernel(spark):
    docs = [fx.build_grid_doc(), fx.build_media_nosample_doc()]
    got = sorted(
        (r.doc_id, r.page, r.table_index, r.row_idx, r.col_idx, r.cell,
         r.is_header, r.confidence)
        for r in tablegrid.extract_table_cells(
            fx.docs_to_spark(spark, docs)).collect())
    want = sorted(_kernel_cells(docs))
    assert got == want


def test_page_numbers_restrict_processing(spark):
    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()])
    only2 = tablegrid.extract_table_cells(docs, page_numbers=[2]).collect()
    assert {r.page for r in only2} == {2}
    assert all(r.confidence == 0.7 for r in only2)


def test_text_fallback_flag_off(spark):
    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()])
    cells = tablegrid.extract_table_cells(docs, text_fallback=False).collect()
    assert {r.page for r in cells} == {1, 4}   # ruled grids only


def test_two_stacked_tables_get_distinct_indices():
    cells = [(p, t, r, c, cell) for _, p, t, r, c, cell, _, _
             in _kernel_cells([fx.build_grid_doc()])]
    p4 = [(t, r, c, cell) for p, t, r, c, cell in cells if p == 4]
    assert [(t, cell) for t, r, c, cell in p4 if r == 0] == \
        [(0, "TA"), (0, "TB"), (1, "BA"), (1, "BB")]
    assert {(t, cell) for t, r, c, cell in p4 if r == 1} == \
        {(0, "t1"), (0, "t2"), (1, "b1"), (1, "b2")}


def test_f8_warning_message_matches_reference(spark):
    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()])
    w = tablegrid.page_range_warnings(docs, [0, 2, 7]).collect()
    got = {(r.page, r.warning) for r in w}
    # grid doc has pages 1..3 -> 0 and 7 out of range, 2 fine
    assert got == {(0, "Page 0 out of range, skipping"),
                   (7, "Page 7 out of range, skipping")}


def test_nested_tables_feed_p3_consolidation(spark):
    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()])
    cons = consolidate.consolidate_documents(
        tablegrid.extract_tables_nested(docs)).collect()
    assert len(cons) == 1
    r = cons[0]
    assert list(r.headers) == ["Alpha", "Beta", "Gamma"]
    assert r.n_tables == 4    # pages 1, 2 and the two stacked page-4 tables
    assert [list(x) for x in r.rows] == [["a1", "b1 extra", "c1"],
                                         ["a3", "", "c3"]]


def test_consolidation_table_cap_guard(spark):
    """The per-doc Python table build is bounded by MAX_TABLES_PER_DOC —
    a doc past the cap fails loudly instead of burning unbounded time
    inside one applyInPandas group."""
    import pytest

    n = consolidate.MAX_TABLES_PER_DOC + 1
    rows = [("d", t, ["H1", "H2"], [["a", "b"]]) for t in range(n)]
    df = spark.createDataFrame(
        rows, "doc_id string, table_id int, headers array<string>, "
              "rows array<array<string>>")
    with pytest.raises(Exception, match="MAX_TABLES_PER_DOC"):
        consolidate.consolidate_documents(df).collect()


def _grid_doc_from_spec(xb, yb, filled):
    """Build a ruled-grid doc from boundary lists + {(r,c): text}."""
    spans, off = [], 0
    for y in yb:
        spans.append({"kind": "line", "text": f"1,{xb[0]},{y},{xb[-1]},{y}|",
                      "media_ref": None, "offset": off}); off += 1
    for x in xb:
        spans.append({"kind": "line", "text": f"1,{x},{yb[0]},{x},{yb[-1]}|",
                      "media_ref": None, "offset": off}); off += 1
    for (r, c), content in sorted(filled.items()):
        cx = (xb[c] + xb[c + 1]) / 2
        cy = (yb[r] + yb[r + 1]) / 2
        spans.append({"kind": "text",
                      "text": f"1,{cx - 2},{cy - 2},{cx + 2},{cy + 2}|{content}",
                      "media_ref": None, "offset": off}); off += 1
    return {"doc_id": "prop", "spans": spans}


import hypothesis.strategies as st  # noqa: E402
from hypothesis import given, settings  # noqa: E402


@st.composite
def _grid_specs(draw):
    n_rows = draw(st.integers(2, 5))
    n_cols = draw(st.integers(1, 4))
    xg = draw(st.lists(st.integers(8, 60), min_size=n_cols, max_size=n_cols))
    yg = draw(st.lists(st.integers(8, 60), min_size=n_rows, max_size=n_rows))
    xb = [10]
    for g in xg:
        xb.append(xb[-1] + g)
    yb = [20]
    for g in yg:
        yb.append(yb[-1] + g)
    mask = draw(st.lists(st.booleans(), min_size=n_rows * n_cols,
                         max_size=n_rows * n_cols))
    filled = {(r, c): f"r{r}c{c}"
              for r in range(n_rows) for c in range(n_cols)
              if mask[r * n_cols + c]}
    return xb, yb, n_rows, n_cols, filled


@settings(max_examples=25, deadline=None)
@given(_grid_specs())
def test_grid_inference_roundtrips_random_grids(spec):
    """Any ruled grid with boundary gaps above snap tolerance must
    round-trip: cells land where they were placed, all-empty data rows
    compact away, and the table exists iff some data row has text."""
    xb, yb, n_rows, n_cols, filled = spec
    cells = _kernel_cells([_grid_doc_from_spec(xb, yb, filled)])

    data_rows = [r for r in range(1, n_rows)
                 if any((r, c) in filled for c in range(n_cols))]
    if not data_rows:
        assert cells == []
        return
    want = []
    for col in range(n_cols):   # header row always present
        want.append((1, 0, 0, col, filled.get((0, col), ""), True, 1.0))
    for new_r, r in enumerate(data_rows, start=1):
        for col in range(n_cols):
            want.append((1, 0, new_r, col, filled.get((r, col), ""),
                         False, 1.0))
    got = [(p, t, r, c, cell, h, conf)
           for _, p, t, r, c, cell, h, conf in cells]
    assert got == want


# ---- S5 metadata ----------------------------------------------------------


def test_metadata_pivot_and_missing_fields(spark):
    docs = fx.docs_to_spark(spark, fx.build_metadata_docs())
    rows = {r.doc_id: r for r in metadata.extract_doc_metadata(docs).collect()}
    assert rows["meta-report"].title == "Routine Core Analysis W20552"
    assert rows["meta-report"].encryption is None
    assert rows["meta-scan"].encryption == "Standard V2"
    assert rows["meta-min"].keywords == "core analysis,rca,permeability"
    assert rows["meta-min"].title is None
    census = {r.producer: r.n_docs
              for r in metadata.metadata_census(docs).collect()}
    assert census == {"LabPDF 1.7": 1, "ScanStation 3.2": 1, "(none)": 1}


def test_span_search_order_and_limit(spark):
    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()])
    hits = metadata.search_spans(docs, "a", limit=3).collect()
    assert len(hits) == 3
    keys = [(r.doc_id, r.offset) for r in hits]
    assert keys == sorted(keys)
    assert all("a" in r.content for r in hits)


# ---- F9 output-path allowlist ---------------------------------------------


def test_f9_output_path_allowlist_matches_reference_contract(tmp_path):
    """Reference core_analysis.py:751-768: True when inside an allowed
    root (abspath, compared by whole path components), ValueError with
    the exact message shape otherwise."""
    from rca_pdf_extraction_pipeline_spark.jobs import run_extraction as job

    assert job.validate_output_path(str(tmp_path / "out"),
                                    [str(tmp_path)]) is True
    assert job.validate_output_path("/tmp/anything/nested") is True
    with pytest.raises(ValueError,
                       match=r"Output path '/etc/passwd-dir' outside "
                             r"allowed directories"):
        job.validate_output_path("/etc/passwd-dir", [str(tmp_path)])
    # relative paths resolve through abspath before the root check
    with pytest.raises(ValueError):
        job.validate_output_path("../../outside", [str(tmp_path)])
    # a root matches whole path components, not a string prefix
    with pytest.raises(ValueError):
        job.validate_output_path("/tmpevil/out")
    with pytest.raises(ValueError):
        job.validate_output_path(str(tmp_path) + "-evil/out", [str(tmp_path)])


# ---- BMP codec ------------------------------------------------------------


def test_bmp_roundtrip_exact():
    rng = np.random.RandomState(7)
    for w, h in [(1, 1), (3, 2), (5, 4), (16, 8)]:   # odd strides incl.
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        parsed = multimodal.decode_bmp(multimodal.encode_bmp(rgb))
        assert parsed is not None
        pw, ph, out = parsed
        assert (pw, ph) == (w, h)
        assert np.array_equal(out, rgb)


def test_bmp_rejects_garbage_and_truncation():
    assert multimodal.decode_bmp(b"not a bmp") is None
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    full = multimodal.encode_bmp(rgb)
    assert multimodal.decode_bmp(full[:40]) is None      # truncated header
    assert multimodal.decode_bmp(full[:-5]) is None      # truncated pixels


def test_real_decode_media_bmp(spark):
    ids = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    dec = multimodal.decode_media(multimodal.synth_bmp_media(ids)).collect()
    by_ref = {r.media_ref: r for r in dec}
    r7 = by_ref["bmp-00007"]
    assert r7.ok and r7.decoded_width == 7 % 16 + 1 \
        and r7.decoded_height == 7 % 8 + 1
    assert r7.features[0] == pytest.approx((7 % 256) / 255.0, abs=1e-6)
    assert not by_ref["bmp-00010"].ok
    assert by_ref["bmp-00010"].decoded_width == 0


def test_png_roundtrip_exact():
    rng = np.random.RandomState(11)
    for w, h in [(1, 1), (3, 2), (5, 4), (16, 8)]:
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        parsed = multimodal.decode_png(multimodal.encode_png(rgb))
        assert parsed is not None
        pw, ph, out = parsed
        assert (pw, ph) == (w, h)
        assert np.array_equal(out, rgb)


def test_png_unfilters_all_filter_types_gray_and_rgba():
    """Hand-built PNG streams with Sub/Up/Average/Paeth filtered rows
    must reconstruct to the values an independent spec-following
    reference computes; grayscale replicates to RGB, RGBA drops alpha."""
    import zlib

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big"))

    rng = np.random.RandomState(3)
    w, h = 4, 4
    raw_rows = [rng.randint(0, 256, w * 3).astype(np.int32)
                for _ in range(h)]
    filters = [1, 2, 3, 4]
    recon = np.zeros((h, w * 3), dtype=np.int32)
    stream = b""
    prev = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        f = filters[y]
        cur = np.zeros(w * 3, dtype=np.int32)
        for x in range(w * 3):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            cur[x] = (raw_rows[y][x] + pred) & 0xFF
        recon[y] = cur
        prev = cur
        stream += bytes([f]) + bytes(raw_rows[y].astype(np.uint8))
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    png = (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b""))
    parsed = multimodal.decode_png(png)
    assert parsed is not None
    assert np.array_equal(parsed[2].reshape(h, w * 3), recon)

    g = rng.randint(0, 256, (2, 3, 1), dtype=np.uint8)
    stream = b"".join(b"\x00" + g[y].tobytes() for y in range(2))
    ihdr = ((3).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0]))
    png = (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b""))
    parsed = multimodal.decode_png(png)
    assert parsed is not None and np.array_equal(
        parsed[2], np.repeat(g, 3, axis=2))

    ra = rng.randint(0, 256, (2, 2, 4), dtype=np.uint8)
    stream = b"".join(b"\x00" + ra[y].tobytes() for y in range(2))
    ihdr = ((2).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, 6, 0, 0, 0]))
    png = (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b""))
    parsed = multimodal.decode_png(png)
    assert parsed is not None and np.array_equal(parsed[2], ra[:, :, :3])


def test_png_rejects_garbage_truncation_and_unsupported():
    import zlib

    assert multimodal.decode_png(b"not a png") is None
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    full = multimodal.encode_png(rgb)
    assert multimodal.decode_png(full[:20]) is None       # truncated IHDR
    assert multimodal.decode_png(full[:-30]) is None      # IDAT cut short
    # interlaced rejected (Adam7 out of scope, honest None)
    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big"))
    ihdr = ((2).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 1]))
    png = (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
           + chunk(b"IEND", b""))
    assert multimodal.decode_png(png) is None


def test_real_decode_media_png_and_mixed_dispatch(spark):
    """decode_media handles a MIXED BMP+PNG media table via
    magic-byte dispatch; per-format geometry/features match the same
    closed form."""
    ids = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    mixed = multimodal.synth_bmp_media(ids).unionByName(
        multimodal.synth_png_media(ids))
    dec = multimodal.decode_media(mixed).collect()
    by_ref = {r.media_ref: r for r in dec}
    for pref in ("bmp", "png"):
        r7 = by_ref[f"{pref}-00007"]
        assert r7.ok and r7.decoded_width == 7 % 16 + 1 \
            and r7.decoded_height == 7 % 8 + 1
        assert r7.features[0] == pytest.approx((7 % 256) / 255.0, abs=1e-6)
        assert not by_ref[f"{pref}-00010"].ok


# ---- legacy full pipeline (jobs/run_full.py) ------------------------------


def test_full_pipeline_composition(spark, tmp_path):
    """analyze -> C2 classify -> S9 on table pages -> P3 -> artifacts
    (reference main.py:237-283). Cells must come only from pages the
    structural classifier called 'table'; artifacts carry the K1 BOM."""
    from rca_pdf_extraction_pipeline_spark.jobs import run_full

    docs = fx.docs_to_spark(spark, [fx.build_grid_doc()]
                            + fx.build_classify_docs())
    stages = run_full.full_pipeline(docs)

    cls = {(r.doc_id, r.page): r.page_type
           for r in stages["classifications"].collect()}
    cells = stages["cells"].collect()
    assert cells, "grid pages should classify as table and yield cells"
    for r in cells:
        assert cls[(r.doc_id, r.page)] == "table", (r.doc_id, r.page)

    cons = {r.doc_id: r for r in stages["consolidated"].collect()}
    assert "grid-doc" in cons
    summ = {r.doc_id: r for r in stages["summaries"].collect()}
    assert summ["grid-doc"].n_pages == 4
    assert summ["classify-text"].n_tables is None   # no tables -> left join

    files = run_full.save_outputs(stages["consolidated"], tmp_path / "out")
    assert files
    csvs = [f for f in files if f.endswith(".csv")]
    for f in csvs:
        data = open(f, "rb").read()
        assert data.startswith(b"\xef\xbb\xbf")     # K1 BOM
