"""The extraction pipeline: docs(doc_id, spans) -> extracted(doc_id, spans).

Spark restatement of the reference's entire query lifecycle
(core_analysis.py:399-421 — classify -> filter table pages -> header
flatten/verify -> segment -> decode -> sink), as ONE narrow ``mapInArrow``
stage: documents are self-contained, so there are no joins and no shuffles
in the logic itself.  The only shuffle is the deliberate skew-defusing
repartition (operators/skew.py) applied by callers before this stage.

Inside the stage everything is batch-columnar, Arrow end-to-end:
  * span flatten           — pyarrow ``list_flatten``/``list_parent_indices``
    (zero-copy; no per-span Python dicts are ever materialized)
  * span payload parsing   — pandas str ops on the flat columns
  * C1 classification      — kernels.classify.classify_pages_keyword
  * F4 data-block argmax   — groupby idxmax on content length
  * H1 header flatten      — kernels.headers.flatten_headers
  * P1/P2 sample decode    — kernels.samples.parse_blocks (numpy gathers)
  * output assembly        — flat numpy segment arrays lexsorted into
    per-doc order, then one ``pa.ListArray.from_arrays`` — no per-cell
    Python loops; offsets are per-doc ranks computed here, never from
    partition order (SURVEY.md §7.4.2)

Inside a batch, documents are addressed by their batch position
(``doc_pos``) so every sort/merge runs on small ints, not doc_id strings.

Scale notes (100 TB design):
  * one Arrow round trip per task; spans never leave columnar form;
  * per-batch memory is bounded by ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` (set low — docs are wide rows);
  * nested-column pruning: the pipeline reads only (doc_id, spans), so
    parquet scans prune every other column; predicate pushdown on doc_id
    works for resume (plans/checkpoint.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from ..config import (
    DEFAULT_CONFIG,
    GOLDEN_EXTRACTED_HEADERS,
    HEADER_Y_MAX,
    HEADER_Y_MIN,
    RE_DEPTH_ANYWHERE,
    ExtractionConfig,
)
from ..kernels import classify as kclassify
from ..kernels import headers as kheaders
from ..kernels import samples as ksamples

OUTPUT_SCHEMA = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)

CLASSIFICATION_SCHEMA = (
    "doc_id string, page int, page_type string, confidence double, reason string"
)

SAMPLES_SCHEMA = (
    "doc_id string, core_number string, sample_number string, depth_feet string, "
    "permeability_air_md string, permeability_klink_md string, "
    "porosity_ambient_pct string, porosity_ncs_pct string, "
    "grain_density_gcc string, saturation_water_pct string, "
    "saturation_oil_pct string, saturation_total_pct string, "
    "page_number int, row_idx int, "
    "depth_feet_f double, porosity_ambient_pct_f double"
)

HEADERS_SCHEMA = "doc_id string, page int, col int, header string"

_FLAT_COLS = ["doc_pos", "kind", "media_ref", "offset", "page",
              "x0", "y0", "x1", "y1", "content"]


# ---------------------------------------------------------------------------
# flatten (Arrow zero-copy)
# ---------------------------------------------------------------------------


def flat_from_batch(batch: pa.RecordBatch) -> pd.DataFrame:
    """Explode one Arrow batch of (doc_id, spans) into a flat columnar
    frame with parsed payload geometry — ``doc_pos`` is the document's
    position within the batch (small int; strings never sort/merge)."""
    empty = pd.DataFrame(columns=_FLAT_COLS)
    if len(batch) == 0:
        return empty
    spans = batch.column(batch.schema.get_field_index("spans"))
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    st = pc.list_flatten(spans)
    if len(st) == 0:
        return empty
    valid = ~pd.isna(st.field("kind").to_pandas().to_numpy())

    flat = pd.DataFrame({
        "doc_pos": parent,
        "kind": st.field("kind").to_pandas(),
        "media_ref": st.field("media_ref").to_pandas(),
        "offset": pc.fill_null(st.field("offset"), 0)
                    .to_numpy(zero_copy_only=False).astype(np.int64),
    })
    payload = st.field("text").to_pandas().fillna("").astype(str)
    if not valid.all():
        flat = flat[valid]
        payload = payload[valid]
    head_tail = payload.str.split("|", n=1, expand=True)
    if head_tail.shape[1] == 1:
        head_tail[1] = ""
    head = head_tail[0].fillna("")
    flat["content"] = head_tail[1].fillna("")
    geo = head.str.split(",", expand=True)
    for i in range(5):
        if i not in geo.columns:
            geo[i] = np.nan
    flat["page"] = pd.to_numeric(geo[0], errors="coerce").fillna(0).astype(np.int64)
    for name, col in zip(["x0", "y0", "x1", "y1"], [1, 2, 3, 4]):
        flat[name] = pd.to_numeric(geo[col], errors="coerce")
    return flat


# ---------------------------------------------------------------------------
# classification (C1 over page texts)
# ---------------------------------------------------------------------------


def classify_flat(flat: pd.DataFrame, key: str = "doc_pos") -> pd.DataFrame:
    """C1 per (doc, page): concat of text-span contents in reading order
    (A1; order fixed to (y0, x0, offset) for determinism, SURVEY.md §2.4
    order caveat), then the keyword cascade.

    Grouping is a single numeric lexsort + boundary scan — no pandas
    groupby-apply in the hot path."""
    out_cols = [key, "page", "page_type", "confidence", "reason", "text"]
    text_spans = flat[flat["kind"] == "text"]
    if len(text_spans) == 0:
        return pd.DataFrame(columns=out_cols)

    codes = text_spans[key].to_numpy()
    order = np.lexsort((
        text_spans["offset"].to_numpy(),
        text_spans["x0"].to_numpy(dtype=np.float64, na_value=np.inf),
        text_spans["y0"].to_numpy(dtype=np.float64, na_value=np.inf),
        text_spans["page"].to_numpy(),
        codes,
    ))
    sd = codes[order]
    sp = text_spans["page"].to_numpy()[order]
    sc = text_spans["content"].to_numpy()[order]

    new_group = np.empty(len(sd), dtype=bool)
    new_group[0] = True
    new_group[1:] = (sd[1:] != sd[:-1]) | (sp[1:] != sp[:-1])
    starts = np.flatnonzero(new_group)
    ends = np.append(starts[1:], len(sd))
    texts = [" ".join(sc[s:e]) for s, e in zip(starts, ends)]

    cls = kclassify.classify_pages_keyword(pd.Series(texts))
    return pd.DataFrame({
        key: sd[starts],
        "page": sp[starts],
        "page_type": cls["page_type"].to_numpy(),
        "confidence": cls["confidence"].to_numpy(),
        "reason": cls["reason"].to_numpy(),
        "text": texts,
    })


# ---------------------------------------------------------------------------
# table-page decode (H1 + P1/P2)
# ---------------------------------------------------------------------------


def _decode_table_pages(flat: pd.DataFrame, table_pages: pd.DataFrame,
                        key: str = "doc_pos") -> tuple[pd.DataFrame, pd.DataFrame]:
    """Header flatten (H1) + sample decode (P1/P2) for classified table pages.

    Returns (samples_df, headers_df); samples carry (key, page_number,
    row_idx, 11 cells), headers carry (key, page, col, header).
    """
    if len(table_pages) == 0:
        empty_s = pd.DataFrame(columns=[key, "page_number", "row_idx",
                                        *ksamples.SAMPLE_COLUMNS])
        return empty_s, pd.DataFrame(columns=[key, "page", "col", "header"])

    tkey = table_pages[[key, "page"]].copy()
    tflat = flat.merge(tkey, on=[key, "page"], how="inner")
    text = tflat[tflat["kind"] == "text"].copy()

    # F4: data block = longest text span containing a depth pattern
    has_depth = text["content"].str.contains(RE_DEPTH_ANYWHERE, regex=True)
    cand = text[has_depth].copy()
    cand["clen"] = cand["content"].str.len()
    # first occurrence wins ties like the reference's strict '>' comparison
    cand = cand.sort_values([key, "page", "offset"], kind="stable")
    best_idx = cand.groupby([key, "page"], sort=True)["clen"].idxmax()
    blocks = cand.loc[best_idx, [key, "page", "content"]].reset_index(drop=True)
    blocks = blocks.sort_values([key, "page"], kind="stable").reset_index(drop=True)
    blocks["block_id"] = np.arange(len(blocks), dtype=np.int64)

    decoded = ksamples.parse_blocks(
        blocks.rename(columns={"content": "text"})[["block_id", "text"]]
    )
    decoded = decoded.merge(blocks[["block_id", key, "page"]], on="block_id")
    decoded = decoded.rename(columns={"page": "page_number"})
    decoded = decoded.sort_values([key, "page_number", "sample_id"], kind="stable")
    decoded["row_idx"] = decoded.groupby(key).cumcount()

    # H1: header-band spans (F3 predicate y0 ∈ [170, 230])
    band = text[(text["y0"] >= HEADER_Y_MIN) & (text["y0"] <= HEADER_Y_MAX)].copy()
    band = band.sort_values([key, "page", "y0", "x0"], kind="stable")
    band["page_key"] = band.groupby([key, "page"], sort=True).ngroup()
    key_map = band[["page_key", key, "page"]].drop_duplicates()
    hdr = kheaders.flatten_headers(
        band.rename(columns={"content": "text"})[["page_key", "x0", "x1", "y0", "text"]]
    )
    hdr = hdr.merge(key_map, on="page_key").drop(columns=["page_key"])
    hdr = hdr[[key, "page", "col", "header"]]
    return decoded, hdr


def _extract_batch_flat(flat: pd.DataFrame) -> dict:
    """Run classification + decode on a flat frame; returns intermediates."""
    cls = classify_flat(flat)
    table_pages = cls[cls["page_type"] == "table"][["doc_pos", "page"]]
    samples, headers = _decode_table_pages(flat, table_pages)
    return {"flat": flat, "cls": cls, "table_pages": table_pages,
            "samples": samples, "headers": headers}


# ---------------------------------------------------------------------------
# output assembly (vectorized, Arrow out)
# ---------------------------------------------------------------------------


def _assemble_batch(batch: pa.RecordBatch, r: dict,
                    cfg: ExtractionConfig) -> pa.RecordBatch:
    """Build the ordered output span sequence per document — header
    fields, then per table page row-major cells, then that page's image
    spans (media passthrough) — as flat numpy segment arrays lexsorted
    into place. Offsets are per-doc ranks computed here, deterministic
    under any partitioning. Zero per-cell Python loops.

    ``cfg`` is unused; the kernel replay in perfbench/run.py passes it."""
    n_docs = len(batch)
    samples, flat, table_pages = r["samples"], r["flat"], r["table_pages"]

    # segment arrays: (doc, sec, page, subsec, row, col, k1, k2, k3)
    docs, secs, pages, subs, rows_, cols = [], [], [], [], [], []
    k1s, k2s, k3s = [], [], []
    kinds, texts, medias = [], [], []

    def add(doc, sec, page, sub, row, col, k1, k2, k3, kind, text, media):
        docs.append(doc); secs.append(sec); pages.append(page)
        subs.append(sub); rows_.append(row); cols.append(col)
        k1s.append(k1); k2s.append(k2); k3s.append(k3)
        kinds.append(kind); texts.append(text); medias.append(media)

    nH = len(GOLDEN_EXTRACTED_HEADERS)
    if len(table_pages):
        tdocs = np.unique(table_pages["doc_pos"].to_numpy())
        m = len(tdocs)
        add(np.repeat(tdocs, nH), np.zeros(m * nH), np.zeros(m * nH),
            np.zeros(m * nH), np.zeros(m * nH), np.tile(np.arange(nH), m),
            np.zeros(m * nH), np.zeros(m * nH), np.zeros(m * nH),
            np.full(m * nH, "field", dtype=object),
            np.tile(np.array(GOLDEN_EXTRACTED_HEADERS, dtype=object), m),
            np.full(m * nH, None, dtype=object))

    if len(samples) > 0:
        cell_cols = [*ksamples.SAMPLE_COLUMNS]
        C = len(cell_cols) + 1
        n = len(samples)
        cells = samples[cell_cols].to_numpy(dtype=object)
        page_num = samples["page_number"].to_numpy().astype(np.int64)
        page_str = page_num.astype(str).astype(object)
        mat = np.concatenate([cells, page_str[:, None]], axis=1)
        add(np.repeat(samples["doc_pos"].to_numpy(), C), np.full(n * C, 1),
            np.repeat(page_num, C), np.zeros(n * C),
            np.repeat(samples["row_idx"].to_numpy(), C),
            np.tile(np.arange(C), n),
            np.zeros(n * C), np.zeros(n * C), np.zeros(n * C),
            np.full(n * C, "field", dtype=object), mat.ravel(),
            np.full(n * C, None, dtype=object))

    # Media passthrough is keyed to the per-(doc, page) pairs that
    # produced decoded samples — computed from THIS doc's rows only, so
    # a doc's output never depends on other docs in the Arrow batch
    # (determinism invariant: per-doc, never batch/partition-derived).
    media = flat[flat["kind"] == "image"]
    if len(media) and len(samples):
        sample_pages = (samples[["doc_pos", "page_number"]]
                        .drop_duplicates()
                        .rename(columns={"page_number": "page"}))
        media = media.merge(sample_pages, on=["doc_pos", "page"])
    else:
        media = media.iloc[:0]
    if len(media):
        mm = len(media)
        add(media["doc_pos"].to_numpy(), np.full(mm, 1),
            media["page"].to_numpy(), np.full(mm, 1),
            np.zeros(mm), np.zeros(mm),
            media["y0"].to_numpy(dtype=np.float64, na_value=np.inf),
            media["x0"].to_numpy(dtype=np.float64, na_value=np.inf),
            media["offset"].to_numpy().astype(np.float64),
            np.full(mm, "image", dtype=object),
            np.full(mm, "", dtype=object),
            media["media_ref"].to_numpy(dtype=object))

    if docs:
        doc_a = np.concatenate(docs).astype(np.int64)
        order = np.lexsort((
            np.concatenate(k3s), np.concatenate(k2s), np.concatenate(k1s),
            np.concatenate(cols), np.concatenate(rows_), np.concatenate(subs),
            np.concatenate(pages), np.concatenate(secs), doc_a,
        ))
        doc_s = doc_a[order]
        kind_s = np.concatenate(kinds)[order]
        text_s = np.concatenate(texts)[order]
        media_s = np.concatenate(medias)[order]
        counts = np.bincount(doc_s, minlength=n_docs)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        offsets_within = np.arange(len(doc_s)) - np.repeat(starts, counts)
    else:
        counts = np.zeros(n_docs, dtype=np.int64)
        kind_s = text_s = media_s = np.empty(0, dtype=object)
        offsets_within = np.empty(0, dtype=np.int64)

    struct = pa.StructArray.from_arrays(
        [pa.array(kind_s, pa.string()), pa.array(text_s, pa.string()),
         pa.array(media_s, pa.string()),
         pa.array(offsets_within.astype(np.int32), pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    list_offsets = pa.array(
        np.concatenate([[0], np.cumsum(counts)]).astype(np.int32), pa.int32())
    spans = pa.ListArray.from_arrays(list_offsets, struct)
    doc_col = batch.column(batch.schema.get_field_index("doc_id"))
    return pa.RecordBatch.from_arrays(
        [doc_col.cast(pa.string()), spans], names=["doc_id", "spans"])


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------


def _doc_ids_pd(batch: pa.RecordBatch) -> np.ndarray:
    return (batch.column(batch.schema.get_field_index("doc_id"))
            .to_pandas().to_numpy())


def extract_documents(docs: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """docs(doc_id, spans) -> extracted(doc_id, spans)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if len(batch) == 0:
                continue
            r = _extract_batch_flat(flat_from_batch(batch))
            yield _assemble_batch(batch, r, cfg)

    return docs.mapInArrow(run, schema=OUTPUT_SCHEMA)


def map_flat_batches(docs: DataFrame, schema: str,
                     fn: Callable[[pd.DataFrame], pd.DataFrame]) -> DataFrame:
    """The one batch loop of the projection operators.

    Per Arrow batch of (doc_id, spans): flatten, call ``fn`` on the flat
    frame, and emit its rows under ``schema`` (a DDL string whose first
    field is ``doc_id``).  ``fn`` returns a ``doc_pos``-keyed frame that
    carries every other schema column; ``doc_id`` is gathered here.  A
    document without spans yields no rows, so empty batches and empty
    flat frames are skipped without calling ``fn``."""
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))
    value_cols = arrow_schema.names[1:]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if len(batch) == 0:
                continue
            flat = flat_from_batch(batch)
            if len(flat) == 0:
                continue
            out = fn(flat)
            if len(out) == 0:
                continue
            ids = _doc_ids_pd(batch)[out["doc_pos"].to_numpy().astype(np.int64)]
            cols = {"doc_id": ids, **{c: out[c].to_numpy() for c in value_cols}}
            yield pa.RecordBatch.from_pandas(pd.DataFrame(cols),
                                             schema=arrow_schema,
                                             preserve_index=False)

    return docs.mapInArrow(run, schema=schema)


def classify_documents(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, page, page_type, confidence, reason) — C1 only."""
    return map_flat_batches(docs, CLASSIFICATION_SCHEMA, classify_flat)


#: US Letter in PDF points (612 x 792): the page the C2 cascade assumes
PAGE_AREA = 612.0 * 792.0


def classify_documents_structural(docs: DataFrame) -> DataFrame:
    """C2 structural classifier over span geometry (reference
    src/page_classifier.py:51-125 — the legacy pipeline's classifier):
    per page, horizontal/vertical line counts (F6 predicates), text
    block count, char count, image coverage (A6) and line-gap
    regularity (A7) feed the structural cascade.

    Page dimensions are not carried in the span model (the reference
    reads them from the PDF page object); they are fixed to US Letter,
    ``PAGE_AREA``.
    """

    def classify(flat: pd.DataFrame) -> pd.DataFrame:
        stats = _structural_stats(flat)
        cls = kclassify.classify_pages_structural(stats)
        return stats[["doc_pos", "page"]].assign(
            page_type=cls["page_type"].to_numpy(),
            confidence=cls["confidence"].to_numpy())

    return map_flat_batches(
        docs, "doc_id string, page int, page_type string, confidence double",
        classify)


def _structural_stats(flat: pd.DataFrame) -> pd.DataFrame:
    """Per-(doc_pos, page) geometry aggregates for the C2 cascade."""
    is_line = flat["kind"] == "line"
    dy = (flat["y1"] - flat["y0"]).abs()
    dx = (flat["x1"] - flat["x0"]).abs()
    flat = flat.assign(
        _h=(is_line & (dy < 2)).astype(np.int64),
        _v=(is_line & (dx < 2) & (dy >= 2)).astype(np.int64),
        _tb=(flat["kind"] == "text").astype(np.int64),
        _chars=np.where(flat["kind"] == "text",
                        flat["content"].str.len().to_numpy(), 0),
        _img_area=np.where(
            flat["kind"] == "image",
            (dx * dy).fillna(0.0).to_numpy(), 0.0),
    )
    g = flat.groupby(["doc_pos", "page"], sort=True)
    stats = g.agg(h_lines=("_h", "sum"), v_lines=("_v", "sum"),
                  text_blocks=("_tb", "sum"), char_count=("_chars", "sum"),
                  img_area=("_img_area", "sum")).reset_index()
    stats["image_coverage"] = stats["img_area"] / PAGE_AREA
    stats["page_number"] = stats["page"]

    # A7 gap regularity over each page's horizontal-line y positions —
    # h-lines map to their stats row via a merge, then one flat-array
    # kernel call (lexsort + bincounts; no per-row Python, no dict-of-lists)
    hl = flat.loc[flat["_h"] == 1, ["doc_pos", "page", "y0"]]
    key_df = stats[["doc_pos", "page"]].copy()
    key_df["gidx"] = np.arange(len(stats), dtype=np.int64)
    hl = hl.merge(key_df, on=["doc_pos", "page"])
    stats["gap_regular"] = kclassify.gap_regularity_flat(
        hl["gidx"].to_numpy(dtype=np.int64),
        hl["y0"].to_numpy(dtype=np.float64), len(stats))
    return stats


def extract_samples(docs: DataFrame) -> DataFrame:
    """docs -> flat decoded sample rows (the CSV-shaped relational view)."""
    return map_flat_batches(docs, SAMPLES_SCHEMA,
                            lambda flat: _extract_batch_flat(flat)["samples"])


def verify_headers_documents(docs: DataFrame) -> DataFrame:
    """H2 cross-page header verification (reference
    core_analysis.py:297-397): the first table page is the canonical
    reference; every other table page's headers are compared
    positionally. Returns one row per document:
    (doc_id, verified, reference_page, pages_checked, n_mismatches).

    Pure DataFrame composition over :func:`extract_headers` — the
    self-join on (doc_id, col) broadcasts nothing and reuses the
    doc_id partitioning; the reference's per-page Python loop becomes
    a groupBy."""
    from pyspark.sql import functions as F

    hdrs = extract_headers(docs)
    ref_page = hdrs.groupBy("doc_id").agg(F.min("page").alias("reference_page"))
    ref = (hdrs.join(ref_page, "doc_id")
               .filter(F.col("page") == F.col("reference_page"))
               .select("doc_id", "col", F.col("header").alias("ref_header"),
                       "reference_page"))
    joined = hdrs.join(ref, ["doc_id", "col"])
    mism = F.when(F.col("header") != F.col("ref_header"), 1).otherwise(0)
    return joined.groupBy("doc_id", "reference_page").agg(
        (F.sum(mism) == 0).alias("verified"),
        F.countDistinct("page").alias("pages_checked"),
        F.sum(mism).alias("n_mismatches"),
    ).select("doc_id", "verified", "reference_page", "pages_checked",
             "n_mismatches")


def extract_headers(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, page, col, header) — H1 per table page."""
    return map_flat_batches(docs, HEADERS_SCHEMA,
                            lambda flat: _extract_batch_flat(flat)["headers"])
