"""Seeded input generator for the extraction benchmark (no Spark).

Every workload's input is a pure function of ``(workload, seed, scale)``:
the same triple gives byte-identical parquet files.  Generated tables are
cached under ``<work>/inputs/<workload>-s<seed>-x<scale>/`` so that
generation stays out of the timed set-up.

Each cached input holds

* ``docs/``     — the table the program reads, as 32 parquet files;
* ``warmup/``   — the first sixteenth of the docs, for the warm-up pass;
* ``expected/`` — ``(doc_id, digest)`` for every doc whose expected
  output is derived here from the golden fixtures (the light one-span docs
  are judged by the JVM keyword cascade at check time instead);
* ``meta.json`` — counts, and for ``html_main`` the DuckDB oracle's
  value hash over the generated ``documents`` table.

``digest`` is the md5 of a doc's output span sequence in the canonical
form of :func:`digest`; ``workloads.digest_col`` is its Spark twin.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from functools import lru_cache
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rca_pdf_extraction_pipeline_spark.config import GOLDEN_EXTRACTED_HEADERS
from rca_pdf_extraction_pipeline_spark.sources import fixtures as fx

WORKLOADS = ("pdf_tables", "corpus_light", "html_main", "resume_job")

#: bump when the generated data changes, so stale caches are not reused
GEN_VERSION = 3

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
EXPECTED_SCHEMA = pa.schema([("doc_id", pa.string()), ("digest", pa.string())])

#: word list of the sf0.1 ``documents`` corpus; light docs draw 10..100
#: words from it, like that corpus
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

#: doc counts at scale 1.0
SIZES = {
    "pdf_tables": {"golden": 128, "subset": 512, "heavy": 4,
                   "heavy_pages": 64, "branch_copies": 8},
    "corpus_light": {"light": 20000, "title_share": 0.1},
    "html_main": {"pages": 20000},
    "resume_job": {"golden": 16, "subset": 48, "heavy": 2, "heavy_pages": 64,
                   "branch_copies": 2, "light": 4000, "title_share": 0.1},
}

_GOLDEN_TABLE_PAGES = ("39", "40", "41", "42")
_NUL, _US, _RS = "\x00", "\x1f", "\x1e"


# ---------------------------------------------------------------------------
# expected outputs
# ---------------------------------------------------------------------------

def digest(spans: list[dict]) -> str:
    """md5 of a span sequence: fields joined by US, spans by RS, NULL as NUL."""
    parts = [_US.join((s["kind"] if s["kind"] is not None else _NUL,
                       s["text"] if s["text"] is not None else _NUL,
                       s["media_ref"] if s["media_ref"] is not None else _NUL,
                       str(s["offset"])))
             for s in spans]
    return hashlib.md5(_RS.join(parts).encode()).hexdigest()


def expected_table_spans(pages: list[tuple[int, str]]) -> list[dict]:
    """Expected output of a doc whose table pages are ``pages``, in page
    order, each ``(page_number, golden_page)``: the golden expectation
    restricted to those pages — 12 header fields, then per page its golden
    rows row-major (the page-number cell carries the page it sits on) and
    its image — with offsets re-ranked.  No table page gives no spans."""
    if not pages:
        return []
    rows = _golden_rows()
    cols = [c for c in rows.columns if c != "row_idx"]
    spans = [{"kind": "field", "text": h, "media_ref": None}
             for h in GOLDEN_EXTRACTED_HEADERS]
    for page, src in pages:
        for r in rows[rows.page_number == src].itertuples(index=False):
            for c in cols:
                v = str(page) if c == "page_number" else getattr(r, c)
                spans.append({"kind": "field", "text": v, "media_ref": None})
        spans.append({"kind": "image", "text": "",
                      "media_ref": f"page{page:04d}_img0000.png"})
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans


#: digest of the output of a light doc the cascade calls ``table``: the
#: header fields only (a one-span page has no data block to decode)
def header_only_digest() -> str:
    return digest([{"kind": "field", "text": h, "media_ref": None, "offset": i}
                   for i, h in enumerate(GOLDEN_EXTRACTED_HEADERS)])


EMPTY_DIGEST = digest([])


@lru_cache(maxsize=None)
def _golden_rows():
    return fx.load_golden_rows().sort_values("row_idx", kind="stable")


# ---------------------------------------------------------------------------
# span pools: every template span list lives once in an Arrow pool; docs are
# index arrays into it
# ---------------------------------------------------------------------------

def _page_of(span: dict) -> int:
    return int(span["text"].split("|", 1)[0].split(",", 1)[0])


class _Pool:
    """Append-only pool of template spans, addressed by index."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, spans: list[dict]) -> np.ndarray:
        start = len(self.spans)
        self.spans.extend(spans)
        return np.arange(start, len(self.spans), dtype=np.int64)

    def table(self, ids: list[str], index_lists: list[np.ndarray]) -> pa.Table:
        """Docs table: doc i holds pool spans ``index_lists[i]`` with input
        offsets re-ranked 0..n-1."""
        pool = pa.array(self.spans, type=SPAN)
        lengths = np.array([len(ix) for ix in index_lists], dtype=np.int64)
        flat = pool.take(pa.array(np.concatenate(index_lists)
                                  if index_lists else np.empty(0, np.int64)))
        starts = np.concatenate([[0], np.cumsum(lengths)])
        offsets = np.arange(starts[-1], dtype=np.int64) - np.repeat(starts[:-1], lengths)
        values = pa.StructArray.from_arrays(
            [flat.field("kind"), flat.field("text"), flat.field("media_ref"),
             pa.array(offsets.astype(np.int32), pa.int32())],
            fields=list(SPAN))
        spans = pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), values)
        return pa.Table.from_arrays([pa.array(ids, pa.string()), spans],
                                    schema=DOCS_SCHEMA)


def _pdf_docs(rng: np.random.Generator, pool: _Pool, prefix: str, golden: int,
              subset: int, heavy: int = 0, heavy_pages: int = 0,
              branch_copies: int = 0):
    """Golden replicas, seeded page-subset variants, oversized docs of
    replicated table pages and parser-branch docs.  Returns
    ``(ids, index_lists, expected digests)``."""
    g = fx.build_golden_doc()["spans"]
    g_ix = pool.add(g)
    pages = np.array([_page_of(s) for s in g])
    page_numbers = np.unique(pages)
    by_page = {int(p): g_ix[pages == p] for p in page_numbers}
    table_pages = [int(p) for p in _GOLDEN_TABLE_PAGES]
    other_pages = [int(p) for p in page_numbers if int(p) not in table_pages]
    full = [(p, str(p)) for p in table_pages]

    lists, want = [], []
    cache: dict[tuple, str] = {}

    def expect(key: tuple) -> str:
        if key not in cache:
            cache[key] = digest(expected_table_spans(list(key)))
        return cache[key]

    for _ in range(golden):
        lists.append(g_ix)
        want.append(expect(tuple(full)))
    for _ in range(subset):
        # one variant in eight keeps no table page (empty output)
        keep_t = [] if rng.random() < 0.125 else \
            [p for p in table_pages if rng.random() < 0.5] or \
            [table_pages[int(rng.integers(4))]]
        keep_o = [p for p in other_pages if rng.random() < 0.5]
        keep = sorted(keep_t + keep_o) or [other_pages[0]]
        lists.append(np.concatenate([by_page[p] for p in keep]))
        want.append(expect(tuple((p, str(p)) for p in keep_t)))
    rows = _golden_rows()
    for _ in range(heavy):
        # heavy tail: heavy_pages table pages cycling through the golden
        # table pages from a seeded start
        c0 = int(rng.integers(4))
        srcs = [_GOLDEN_TABLE_PAGES[(c0 + k) % 4] for k in range(heavy_pages)]
        spans: list[dict] = []
        for k, src in enumerate(srcs):
            spans.extend(fx.build_table_page_spans(
                39 + k, rows[rows.page_number == src], len(spans)))
        lists.append(pool.add(spans))
        want.append(expect(tuple((39 + k, s) for k, s in enumerate(srcs))))
    branch = fx.build_parser_branch_docs()
    for d in branch:
        ix = pool.add(d["spans"])
        exp = fx.expected_branch_output(d["doc_id"])["spans"]
        for _ in range(branch_copies):
            lists.append(ix)
            want.append(digest(exp))
    return [f"{prefix}{i:06d}" for i in range(len(lists))], lists, want


def _light_texts(rng: np.random.Generator, n: int, title_share: float) -> list[str]:
    """n corpus-like texts; exactly round(n * title_share) of them, at
    seeded positions, open with the table-page title."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    vocab = np.array(VOCAB, dtype=object)[words]
    texts = [" ".join(vocab[e - l:e]) for l, e in zip(lens, ends)]
    for i in rng.permutation(n)[:round(n * title_share)]:
        texts[i] = fx.TABLE_PAGE_TITLE + " " + texts[i]
    return texts


def _light_docs(rng, pool: _Pool, prefix: str, n: int, title_share: float):
    texts = _light_texts(rng, n, title_share)
    ix = pool.add([{"kind": "text", "text": f"1|{t}", "media_ref": None,
                    "offset": 0} for t in texts])
    return [f"{prefix}{i:06d}" for i in range(n)], [ix[i:i + 1] for i in range(n)]


# ---------------------------------------------------------------------------
# per-workload tables
# ---------------------------------------------------------------------------

def _n(count: float, scale: float) -> int:
    return max(1, round(count * scale))


def build(workload: str, seed: int, scale: float = 1.0):
    """-> (docs table, expected table | None, meta dict).  Deterministic."""
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    sz = SIZES[workload]
    pool = _Pool()
    meta: dict = {"workload": workload, "seed": seed, "scale": scale,
                  "gen_version": GEN_VERSION}
    if workload == "html_main":
        n = _n(sz["pages"], scale)
        texts = _light_texts(rng, n, 0.0)
        docs = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                         "text": pa.array(texts, pa.string())})
        meta["docs"] = n
        return docs, None, meta
    ids, lists, want = [], [], []
    if workload in ("pdf_tables", "resume_job"):
        kw = {k: (_n(v, scale) if k != "heavy_pages" else v)
              for k, v in sz.items() if k not in ("light", "title_share")}
        i, l, w = _pdf_docs(rng, pool, "p", **kw)
        ids += i; lists += l; want += w
    if workload in ("corpus_light", "resume_job"):
        i, l = _light_docs(rng, pool, "l", _n(sz["light"], scale),
                           sz["title_share"])
        ids += i; lists += l
    # interleave: seeded order of heavy and light docs
    order = rng.permutation(len(ids))
    docs = pool.table([ids[k] for k in order], [lists[k] for k in order])
    expected = pa.Table.from_arrays(
        [pa.array(ids[:len(want)], pa.string()), pa.array(want, pa.string())],
        schema=EXPECTED_SCHEMA)
    meta["docs"] = len(ids)
    meta["heavy_docs"] = len(want)
    return docs, expected, meta


def _write(table: pa.Table, path: Path, files: int = 32) -> None:
    """``files`` parquet files under ``path``: Spark packs files smaller than
    its open cost into one split, so one file per task keeps every core busy."""
    path.mkdir()
    rows = max(1, -(-table.num_rows // files))
    for i in range(0, max(1, table.num_rows), rows):  # an empty table: one file
        pq.write_table(table.slice(i, rows), path / f"part-{i // rows:05d}.parquet")


def ensure(work: Path, workload: str, seed: int, scale: float = 1.0) -> Path:
    """Generate (or reuse) the cached input of ``(workload, seed, scale)``."""
    out = work / "inputs" / f"{workload}-s{seed}-x{scale:g}"
    if (out / "meta.json").exists() and \
            json.loads((out / "meta.json").read_text()).get("gen_version") == GEN_VERSION:
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    docs, expected, meta = build(workload, seed, scale)
    _write(docs, tmp / "docs")
    _write(docs.slice(0, max(1, docs.num_rows // 16)), tmp / "warmup", 4)
    if expected is not None:
        _write(expected, tmp / "expected", 1)
    if workload == "html_main":
        meta["oracle_hash"], meta["oracle_rows"] = html_oracle(tmp / "docs")
    (tmp / "meta.json").write_text(json.dumps(meta, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def html_oracle(documents: Path) -> tuple[str, int]:
    """Value hash and row count of the DuckDB oracle ``html_main_spans``
    over the generated ``documents`` table."""
    import duckdb

    from __spark_entry__ import oracle_sql
    from check_entry import value_hash

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{documents}/*.parquet'")
        df = con.sql(oracle_sql()["html_main_spans"]).df()
    finally:
        con.close()
    return value_hash(df), len(df)
