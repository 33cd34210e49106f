"""Deterministic fixture generator for the interleaved docs table.

Synthesizes ``docs(doc_id, spans)`` rows whose extraction output must equal
the reference pipeline's golden artifacts (FIXTURES.md §3):

  * ``golden-doc-w20552`` — a 253-page document whose keyword classification
    reproduces ``golden_page_classification.parquet`` exactly and whose 4
    table pages (39-42) carry header-band spans + vertical data blocks that
    decode to all 138 rows of ``golden_table_rows.parquet``.
  * per-branch parser docs (``parse-*``), classification archetypes
    (``classify-*``), media passthrough and skew fixtures.

The table-page data blocks are built by INVERTING the reference decoder
(core_analysis.py:580-712): for each golden CSV row we emit the vertical
line list its branch would have consumed.  Round-tripping through our
vectorized decoder is therefore a genuine correctness check, not a tautology.

Span payload encoding (config.PAYLOAD_SEP):
    text = "<page>,<x0>,<y0>,<x1>,<y1>|<content>"   geometry-bearing
    text = "<page>|<content>"                        page-only (no geometry)
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow as pa

from ..config import GOLDEN_EXTRACTED_HEADERS

GOLDEN_DIR = Path(__file__).resolve().parent.parent / "golden"

#: header-band fragment geometry: (content, y0, x_center, spanning)
#: flattens to the 11 golden headers via H1 (see kernels/headers.py)
HEADER_FRAGMENTS: list[tuple[str, float, float]] = [
    ("Core", 193, 62), ("Number", 204, 62),
    ("Sample", 193, 110), ("Number", 204, 110),
    ("Sample", 181, 167), ("Depth,", 193, 167), ("feet", 204, 167),
    ("Permeability,", 193, 259), ("millidarcys", 204, 259),  # spans cols 3-4
    ("to Air", 215, 230), ("Klinkenberg", 215, 292),
    ("Porosity,", 193, 367), ("percent", 204, 367),          # spans cols 5-6
    ("Ambient", 215, 350), ("NCS", 215, 392),
    ("Grain", 193, 430), ("Density,", 204, 430), ("gm/cc", 215, 430),
    ("Fluid", 181, 506), ("Saturations,", 193, 506), ("percent", 204, 506),
    ("Water", 215, 470), ("Oil", 215, 510), ("Total", 215, 550),
]

TABLE_PAGE_TITLE = "SUMMARY OF ROUTINE CORE ANALYSES RESULTS"

#: deterministic keyword-free narrative filler for 'text' pages (>500 chars,
#: zero C1 table keywords)
_NARRATIVE = (
    "The laboratory team documented each step of the measurement campaign "
    "in the daily log. Instruments were calibrated before every session and "
    "the ambient conditions were recorded alongside the readings. Results "
    "were reviewed by two analysts and archived with the station metadata. "
    "Deviations from the expected ranges were flagged for follow-up and the "
    "affected runs were repeated on the next day. The final report collects "
    "the validated readings, the calibration notes, and the reviewer "
    "remarks for the full campaign period under revision control. "
)


def load_golden_rows() -> pd.DataFrame:
    return pd.read_parquet(GOLDEN_DIR / "golden_table_rows.parquet")


def load_golden_classification() -> pd.DataFrame:
    return pd.read_parquet(GOLDEN_DIR / "golden_page_classification.parquet")


def _fmt_depth_input(cell: str) -> str:
    """Invert depth parse: CSV '9580.5' -> source line '9,580.50'
    (must satisfy RE_DEPTH: ^\\d{1,2},?\\d{3}\\.\\d{2}$)."""
    return f"{float(cell):,.2f}"


def row_to_lines(row: pd.Series) -> list[str]:
    """Invert P2: golden CSV row -> the vertical line list the reference
    decoder consumes (branch selected by the permeability cell)."""
    lines = [row.core_number, row.sample_number, _fmt_depth_input(row.depth_feet)]
    pa = row.permeability_air_md
    if pa == "+":
        lines += ["+", row.porosity_ambient_pct, row.grain_density_gcc]
    elif pa.startswith("<"):
        lines += [pa, row.porosity_ambient_pct, row.porosity_ncs_pct,
                  row.grain_density_gcc]
    else:
        lines += [pa, row.permeability_klink_md, row.porosity_ambient_pct,
                  row.porosity_ncs_pct, row.grain_density_gcc]
    if row.saturation_water_pct == "**":
        lines.append("**")
    else:
        for cell in (row.saturation_water_pct, row.saturation_oil_pct,
                     row.saturation_total_pct):
            if cell == "":
                break
            lines.append(cell)
    return [l for l in lines if l != ""]


def _geom(page: int, x0: float, y0: float, x1: float, y1: float, content: str) -> str:
    return f"{page},{x0:g},{y0:g},{x1:g},{y1:g}|{content}"


def _pageonly(page: int, content: str) -> str:
    return f"{page}|{content}"


def _span(kind: str, text: str, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def build_table_page_spans(page: int, rows: pd.DataFrame, offset0: int,
                           with_image: bool = True) -> list[dict]:
    """All spans of one synthetic table page, in reading order."""
    spans: list[dict] = []
    off = offset0
    spans.append(_span("text", _geom(page, 40, 100, 400, 112, TABLE_PAGE_TITLE), None, off)); off += 1
    for content, y, cx in HEADER_FRAGMENTS:
        spans.append(_span("text", _geom(page, cx - 15, y, cx + 15, y + 9, content), None, off))
        off += 1
    block_lines: list[str] = []
    for _, r in rows.iterrows():
        block_lines.extend(row_to_lines(r))
    spans.append(_span("text", _geom(page, 40, 250, 570, 700, "\n".join(block_lines)), None, off)); off += 1
    # grid lines so the structural classifier also sees a table
    for i in range(4):
        spans.append(_span("line", _geom(page, 40, 250 + 100 * i, 570, 250 + 100 * i, ""), None, off)); off += 1
    for i in range(4):
        spans.append(_span("line", _geom(page, 40 + 130 * i, 250, 40 + 130 * i, 700, ""), None, off)); off += 1
    if with_image:
        spans.append(_span("image", _geom(page, 400, 710, 500, 760, ""),
                           f"page{page:04d}_img0000.png", off)); off += 1
    return spans


def build_simple_page_spans(page: int, page_type: str, offset0: int) -> list[dict]:
    """Spans for a non-table page matching the golden classification label."""
    off = offset0
    if page_type == "text":
        content = (_NARRATIVE * 2)[:620] + f" Station entry {page}."
        return [_span("text", _pageonly(page, content), None, off)]
    if page_type == "plot":
        return [
            _span("text", _geom(page, 40, 80, 300, 92, "PROFILE PLOT"), None, off),
            _span("text", _geom(page, 40, 100, 300, 112,
                                f"Depth chart for interval {page}"), None, off + 1),
            _span("rect", _geom(page, 60, 150, 500, 600, ""), None, off + 2),
        ]
    if page_type == "cover":
        return [
            _span("text", _geom(page, 40, 80, 300, 92, "TABLE OF CONTENTS"), None, off),
            _span("text", _geom(page, 40, 100, 300, 112, "Listing of report sections"),
                  None, off + 1),
        ]
    # 'other' — minimal text (<50 chars total)
    return [_span("text", _pageonly(page, f"Page {page}"), None, off)]


def build_golden_doc(doc_id: str = "golden-doc-w20552") -> dict:
    """The full 253-page synthetic twin of W20552.pdf."""
    cls = load_golden_classification()
    rows = load_golden_rows()
    spans: list[dict] = []
    for _, pc in cls.sort_values("page").iterrows():
        page, ptype = int(pc.page), pc.page_type
        if ptype == "table":
            prows = rows[rows.page_number == str(page)]
            spans.extend(build_table_page_spans(page, prows, len(spans)))
        else:
            spans.extend(build_simple_page_spans(page, ptype, len(spans)))
    return {"doc_id": doc_id, "spans": spans}


def expected_golden_output(doc_id: str = "golden-doc-w20552") -> dict:
    """golden_spans for the golden doc: 12 header fields + 138x12 cell
    fields in row-major order + per-page media passthrough."""
    rows = load_golden_rows().sort_values("row_idx")
    spans: list[dict] = []
    for h in GOLDEN_EXTRACTED_HEADERS:
        spans.append(_span("field", h, None, len(spans)))
    cols = [c for c in rows.columns if c != "row_idx"]
    for page in ["39", "40", "41", "42"]:
        prows = rows[rows.page_number == page]
        for _, r in prows.iterrows():
            for c in cols:
                spans.append(_span("field", r[c], None, len(spans)))
        spans.append(_span("image", "", f"page{int(page):04d}_img0000.png", len(spans)))
    return {"doc_id": doc_id, "spans": spans}


def build_parser_branch_docs() -> list[dict]:
    """Single-page docs exercising each P2 branch (FIXTURES.md §3).
    Expected outputs derive from the golden rows with matching shapes."""
    rows = load_golden_rows()
    picks = {
        "parse-normal": 0,     # 1-1 numeric branch
        "parse-plus": 1,       # 1-2(F) '+' branch
        "parse-detect": 2,     # 1-3 '<0.0001' branch
        "parse-star": 7,       # 1-8 '**' saturations
        "parse-fracture": 8,   # 1-9(f) lowercase fracture
    }
    docs = []
    for doc_id, ridx in picks.items():
        r = rows[rows.row_idx == ridx]
        docs.append({"doc_id": doc_id,
                     "spans": build_table_page_spans(39, r, 0, with_image=False)})
    # guard doc: 25 junk lines -> no samples (MAX_SAMPLE_LINES)
    junk = "\n".join(["7", "7-1", "9,700.00"] + ["line"] * 22)
    docs.append({
        "doc_id": "parse-toolong",
        "spans": [
            _span("text", _geom(39, 40, 100, 400, 112, TABLE_PAGE_TITLE), None, 0),
            _span("text", _geom(39, 40, 250, 570, 700, junk), None, 1),
        ],
    })
    docs.append(build_media_nosample_doc())
    return docs


def build_media_nosample_doc(doc_id: str = "media-nosample") -> dict:
    """Table-classified page carrying an image but NO decodable data block.

    Regression fixture for batch-independent media emission: images pass
    through only for (doc, page) pairs that produced samples, computed from
    that doc's own rows — this doc's image span must never appear merely
    because ANOTHER doc in the same Arrow batch yielded samples."""
    junk = "\n".join(["7", "7-1", "9,700.00"] + ["line"] * 22)
    return {
        "doc_id": doc_id,
        "spans": [
            _span("text", _geom(39, 40, 100, 400, 112, TABLE_PAGE_TITLE), None, 0),
            _span("text", _geom(39, 40, 250, 570, 700, junk), None, 1),
            _span("image", _geom(39, 400, 710, 500, 760, ""),
                  "page0039_img0000.png", 2),
        ],
    }


def expected_branch_output(doc_id: str) -> dict:
    rows = load_golden_rows()
    picks = {"parse-normal": 0, "parse-plus": 1, "parse-detect": 2,
             "parse-star": 7, "parse-fracture": 8}
    spans: list[dict] = []
    for h in GOLDEN_EXTRACTED_HEADERS:
        spans.append(_span("field", h, None, len(spans)))
    if doc_id in picks:
        r = rows[rows.row_idx == picks[doc_id]].iloc[0]
        for c in [c for c in rows.columns if c != "row_idx"]:
            spans.append(_span("field", r[c], None, len(spans)))
    elif doc_id in ("parse-toolong", "media-nosample"):
        # headers only: no sample rows survive the guard, and media
        # passthrough is keyed to sample-producing pages, so the
        # media-nosample image is (correctly) NOT emitted
        spans = spans
    return {"doc_id": doc_id, "spans": spans}


def build_grid_doc(doc_id: str = "grid-doc") -> dict:
    """S9 fixture: three pages exercising every table-grid branch
    (reference table_extractor.py:59-120).

      page 1 — ruled 4x3 grid (5 h-lines incl. a duplicate within snap
        tolerance, 4 v-lines): header row, a multi-span cell, one all-empty
        row (dropped), a sparse row, and stray text outside the grid.
      page 2 — no rulings: text-alignment fallback table (confidence 0.7),
        3x3 with one missing cell.
      page 3 — a single rect (1x1 grid => <2 raw rows) + one text span:
        yields NO table from either strategy.
    """
    spans: list[dict] = []
    off = 0

    def line(page, x0, y0, x1, y1):
        nonlocal off
        spans.append(_span("line", _geom(page, x0, y0, x1, y1, ""), None, off))
        off += 1

    def text(page, x0, y0, x1, y1, content):
        nonlocal off
        spans.append(_span("text", _geom(page, x0, y0, x1, y1, content), None, off))
        off += 1

    # --- page 1: ruled grid; x bounds [50,150,250,350], y [100,120,140,160,180]
    for y in (100, 120, 140, 160, 180):
        line(1, 50, y, 350, y)
    line(1, 50, 100.8, 350, 100.8)      # duplicate ruling: snaps into y=100
    for x in (50, 150, 250, 350):
        line(1, x, 100, x, 180)
    cells = {
        (0, 0): ["Alpha"], (0, 1): ["Beta"], (0, 2): ["Gamma"],
        (1, 0): ["a1"], (1, 1): ["b1", "extra"], (1, 2): ["c1"],
        # row 2 intentionally empty -> dropped
        (3, 0): ["a3"], (3, 2): ["c3"],
    }
    xb, yb = [50, 150, 250, 350], [100, 120, 140, 160, 180]
    for (r, c), parts in sorted(cells.items()):
        cy = (yb[r] + yb[r + 1]) / 2
        cx = (xb[c] + xb[c + 1]) / 2
        for i, p in enumerate(parts):
            # multi-span cells: stacked a little apart, same cell
            text(1, cx - 10 + 4 * i, cy - 4 + 2 * i, cx + 10 + 4 * i,
                 cy + 2 * i, p)
    text(1, 60, 300, 200, 310, "stray caption below the grid")

    # --- page 2: text-alignment fallback, rows y0 in {400,420,440},
    #     cols x0 in {60,160,260}
    grid2 = {(0, 0): "H1", (0, 1): "H2", (0, 2): "H3",
             (1, 0): "d1", (1, 1): "d2", (1, 2): "d3",
             (2, 0): "e1", (2, 2): "e3"}
    for (r, c), content in sorted(grid2.items()):
        text(2, 60 + 100 * c, 400 + 20 * r, 100 + 100 * c, 410 + 20 * r, content)

    # --- page 3: a lone rect = 1x1 grid -> no table either way
    spans.append(_span("rect", _geom(3, 60, 500, 200, 560, ""), None, off)); off += 1
    text(3, 70, 520, 180, 530, "figure box")

    # --- page 4: TWO stacked ruled tables (disconnected ruling
    #     components) -> table_index 0 (top) and 1 (bottom)
    for y in (500, 515, 530):
        line(4, 50, y, 250, y)
    for x in (50, 150, 250):
        line(4, x, 500, x, 530)
    for y in (600, 615, 630):
        line(4, 60, y, 260, y)
    for x in (60, 160, 260):
        line(4, x, 600, x, 630)
    top = {(0, 0): "TA", (0, 1): "TB", (1, 0): "t1", (1, 1): "t2"}
    for (r, c), content in sorted(top.items()):
        cx, cy = (50 + 100 * c + 50 + 100 * (c + 1)) / 2, (500 + 15 * r + 500 + 15 * (r + 1)) / 2
        text(4, cx - 10, cy - 3, cx + 10, cy + 3, content)
    bot = {(0, 0): "BA", (0, 1): "BB", (1, 0): "b1", (1, 1): "b2"}
    for (r, c), content in sorted(bot.items()):
        cx, cy = (60 + 100 * c + 60 + 100 * (c + 1)) / 2, (600 + 15 * r + 600 + 15 * (r + 1)) / 2
        text(4, cx - 10, cy - 3, cx + 10, cy + 3, content)
    return {"doc_id": doc_id, "spans": spans}


def expected_grid_cells() -> list[tuple]:
    """Hand-derived expected output of extract_table_cells(build_grid_doc())
    — (page, table_index, row_idx, col_idx, cell, is_header, confidence)."""
    out = []
    page1 = [
        (0, ["Alpha", "Beta", "Gamma"], True),
        (1, ["a1", "b1 extra", "c1"], False),
        (2, ["a3", "", "c3"], False),        # raw row 3 compacts to 2
    ]
    for row_idx, cells, is_hdr in page1:
        for col_idx, cell in enumerate(cells):
            out.append((1, 0, row_idx, col_idx, cell, is_hdr, 1.0))
    page2 = [
        (0, ["H1", "H2", "H3"], True),
        (1, ["d1", "d2", "d3"], False),
        (2, ["e1", "", "e3"], False),
    ]
    for row_idx, cells, is_hdr in page2:
        for col_idx, cell in enumerate(cells):
            out.append((2, 0, row_idx, col_idx, cell, is_hdr, 0.7))
    page4 = [
        (0, [(0, ["TA", "TB"], True), (1, ["t1", "t2"], False)]),
        (1, [(0, ["BA", "BB"], True), (1, ["b1", "b2"], False)]),
    ]
    for table_index, rows in page4:
        for row_idx, cells, is_hdr in rows:
            for col_idx, cell in enumerate(cells):
                out.append((4, table_index, row_idx, col_idx, cell,
                            is_hdr, 1.0))
    return out


#: S5 metadata fixture contents — every reference field
#: (elementizer/extractor.py:64-76) appears in at least one doc
METADATA_DOCS: list[tuple[str, dict]] = [
    ("meta-report", {
        "title": "Routine Core Analysis W20552", "author": "Core Lab",
        "subject": "RCA summary", "creator": "ReportGen 2.1",
        "producer": "LabPDF 1.7", "format": "PDF 1.7"}),
    ("meta-scan", {
        "title": "Scanned Archive 14", "producer": "ScanStation 3.2",
        "creation_date": "D:20200401120000", "modification_date": "D:20210115093000",
        "format": "PDF 1.4", "encryption": "Standard V2"}),
    ("meta-min", {"keywords": "core analysis,rca,permeability"}),
]


def build_metadata_docs() -> list[dict]:
    """Docs carrying ``kind='meta'`` spans (payload ``"0|key=value"``,
    page 0 = document scope) plus one ordinary text span each."""
    docs = []
    for doc_id, meta in METADATA_DOCS:
        spans = [
            _span("meta", _pageonly(0, f"{k}={v}"), None, i)
            for i, (k, v) in enumerate(sorted(meta.items()))
        ]
        spans.append(_span("text", _pageonly(1, f"Body of {doc_id}."),
                           None, len(spans)))
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


def build_classify_docs() -> list[dict]:
    """One-page docs for each C1 archetype."""
    out = []
    for doc_id, ptype, page in [
        ("classify-plot", "plot", 1),
        ("classify-cover", "cover", 1),
        ("classify-text", "text", 1),
        ("classify-other", "other", 1),
    ]:
        out.append({"doc_id": doc_id, "spans": build_simple_page_spans(page, ptype, 0)})
    rows = load_golden_rows().head(3)
    out.append({"doc_id": "classify-table",
                "spans": build_table_page_spans(1, rows, 0, with_image=False)})
    return out


def build_vector_art_doc() -> dict:
    """One doc exercising the FULL reference ``ElementType`` enum
    (``src/elementizer/models.py:8-18``): ``path``/``curve``/
    ``annotation`` spans interleaved with text/line/rect/image.  Vector
    kinds carry their drawing commands — the ``items_json`` payload of
    ``PathElement`` (``models.py:189-203``, DDL ``database.py:113-121``)
    — as ';'-separated commands in the content half of the payload.
    Extraction treats them like lines/rects: structural, never text
    content, so adding this doc must not move any golden output."""
    spans = [
        _span("text", _geom(1, 40, 100, 400, 112, "Figure 1: pipeline map"),
              None, 0),
        _span("path", _geom(1, 50, 150, 300, 400,
                            "m 50 150;l 300 150;l 300 400;h"), None, 1),
        _span("curve", _geom(1, 60, 160, 290, 390,
                             "m 60 160;c 100 200 250 350 290 390"), None, 2),
        _span("annotation", _geom(1, 310, 150, 380, 170,
                                  "note: reviewed by QA"), None, 3),
        _span("line", _geom(1, 40, 500, 570, 500, ""), None, 4),
        _span("rect", _geom(1, 40, 520, 570, 700, ""), None, 5),
        _span("image", _geom(1, 400, 710, 500, 760, ""),
              "page0001_img0000.png", 6),
        _span("path", _geom(2, 10, 10, 20, 20, "m 10 10;l 20 20"), None, 7),
        _span("annotation", _geom(2, 30, 30, 90, 45, "todo"), None, 8),
    ]
    return {"doc_id": "vector-art", "spans": spans}


def build_skew_docs(n_small: int = 40, big_factor: int = 100) -> list[dict]:
    """Skew fixture: n_small single-table-page docs + one doc with
    ``big_factor`` replicated table pages (the oversized-PDF case)."""
    rows = load_golden_rows()
    docs = []
    small_rows = rows[rows.page_number == "42"]  # 6 rows -> small doc
    for i in range(n_small):
        docs.append({"doc_id": f"skew-small-{i:03d}",
                     "spans": build_table_page_spans(39, small_rows, 0)})
    spans: list[dict] = []
    for p in range(big_factor):
        page_rows = rows[rows.page_number == ["39", "40", "41", "42"][p % 4]]
        spans.extend(build_table_page_spans(39 + p, page_rows, len(spans)))
    docs.append({"doc_id": "skew-big", "spans": spans})
    return docs


def build_malformed_docs() -> list[dict]:
    """Degenerate docs every span-consuming operator must survive: empty
    spans, a payload without '|', unparseable geometry, a null kind and
    a null offset."""
    return [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "no-sep", "spans": [
            {"kind": "text", "text": "no separator at all",
             "media_ref": None, "offset": 0}]},
        {"doc_id": "garbage-geo", "spans": [
            {"kind": "text", "text": "x,y,z,w,v|content",
             "media_ref": None, "offset": 0},
            {"kind": "line", "text": "1,a,b,c,d|", "media_ref": None,
             "offset": 1}]},
        {"doc_id": "null-kind", "spans": [
            {"kind": None, "text": None, "media_ref": None, "offset": 0},
            {"kind": "text", "text": "1|ok", "media_ref": None, "offset": 1}]},
        {"doc_id": "null-offset", "spans": [
            {"kind": "text", "text": "1,10,10,20,20|cell", "media_ref": None,
             "offset": None}]},
    ]


SPAN_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)

_DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])


def docs_to_batch(docs: list[dict]) -> pa.RecordBatch:
    """Fixture docs as ONE Arrow batch of (doc_id, spans) — the batch
    shape ``mapInArrow`` hands the extraction operators, so kernel tests
    drive the executor path without Spark."""
    return pa.RecordBatch.from_pylist(docs, schema=_DOCS_ARROW)


def docs_to_spark(spark, docs: list[dict]):
    """Materialize fixture docs as a Spark DataFrame with the canonical
    interleaved-docs schema."""
    rows = [
        (d["doc_id"],
         [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in docs
    ]
    return spark.createDataFrame(rows, schema=SPAN_SCHEMA_DDL)
