"""Raw-HTML markup extraction: markup string -> DOM blocks ->
interleaved spans / link edges, entirely as narrow column expressions.

The boilerplate family (operators/boilerplate.py) starts from an
ALREADY-PARSED block table; this module closes the step before it —
the north_rule's "HTML boilerplate stripping (DOM tree heuristics
...)" from the raw markup string itself:

  * :func:`parse_blocks` — markup -> one row per DOM block in document
    order, ``(doc_id, idx, tag, text, anchor_chars)`` — byte-compatible
    with ``boilerplate.score_blocks``'s input contract.
  * :func:`to_spans` — markup -> the engine's interleaved spans shape
    ``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``
    (BASELINE ``input_hint``): block text becomes text spans, every
    ``<img src>`` becomes an image span AT ITS POSITION inside the
    text flow, offsets assigned in reading order from the markup —
    never from partition order.  With ``content_only=True`` the
    Boilerpipe scoring (same constants as ``operators/boilerplate.py``:
    link density < 0.33, word-count floor, neighbour smoothing) runs
    NARROWLY over the per-document block array before span assembly,
    so the whole main-content extraction is one map — zero shuffle.
  * :func:`extract_links` — markup -> ``(doc_id, href, url)`` anchor
    edges, relative hrefs resolved against a caller-supplied base
    column; feeds ``operators/linkgraph.py`` (degree census, PageRank
    over the extracted link graph).
  * :func:`synth_html` — the deterministic markup lift of the flat
    ``documents`` corpus used by entry queries and benchmarks; the
    rule is replayed verbatim in the DuckDB oracles (house pattern:
    dialect-shared synthesis, see ``operators/urls.py``).

Parsing strategy (RE2-safe, shared verbatim with the DuckDB twin): the
open tags of the block grammar are rewritten to sentinel bytes
(``<p>`` -> ``\\x01p\\x02``), the document splits on ``\\x01`` into an
in-order block array, and per block the tag, tag-stripped text, anchor
character count and ``<img>`` positions fall out of three fixed
regexes.  No lookahead, no backreference — every pattern runs
identically under Java regex (Spark, codegen'd) and RE2 (DuckDB).

Reference parity: the reference pipeline has no HTML path (its
extractor consumes pre-decoded PDF spans, ``extractor.py:92-150``);
this module is the web-corpus analogue the north_star prescribes,
emitting the exact span model the extraction family already verifies
(``operators/interleaved.py`` consumes :func:`to_spans` output
verbatim: caption pairing, packing, span diff, asset census).

100 TB shape: everything here is a pure map over the document scan —
no Exchange anywhere (plan-pinned).  The only Generate is the final
explode in :func:`parse_blocks`/:func:`parse_tables`/
:func:`section_outline`/:func:`extract_links`; the span builders stay
nested.  Block arrays are projected ONCE into a column layer and every
derived expression references the layer (the Generate-no-CSE /
CollapseProject discipline, CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .boilerplate import MIN_WORDS, MIN_WORDS_NEIGHBOUR, block_signals

#: block-level tags the parser recognizes as block openers (the
#: synthesized grammar's block set; a production parser extends the
#: alternation — the sentinel rewrite is tag-set-generic)
OPEN_TAGS = ("p", "h1", "nav", "footer", "title")

_SENT_BLK = "\x01"   # block boundary
_SENT_TAG = "\x02"   # tag / content separator
_SENT_IMG = "\x03"   # image boundary (span builder)
_SENT_REF = "\x04"   # media_ref / tail separator
_SENT_ROW = "\x05"   # table row boundary (table parser)
_SENT_CELL = "\x06"  # table cell boundary (table parser)

_OPEN_RE = "<(" + "|".join(OPEN_TAGS) + ")>"
_TAG_RE = "<[^>]*>"
_ANCHOR_TEXT_RE = '<a href="[^"]*">([^<]*)'
_HREF_RE = '<a href="([^"]*)"'
_IMG_RE = '<img src="([^"]*)">'


# ---------------------------------------------------------------------------
# narrow building blocks
# ---------------------------------------------------------------------------

def _strip_tags(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, _TAG_RE, ""))


def _block_array(html: Column) -> Column:
    """array<struct<tag, text, anchor_chars, rest>> in document order.

    ``rest`` is the raw inner markup (inline tags intact) — the span
    builder re-reads it for <img> positions; droppable by projection.
    """
    marked = F.regexp_replace(html, _OPEN_RE, _SENT_BLK + "$1" + _SENT_TAG)
    parts = F.split(marked, _SENT_BLK)
    # element 1 is the pre-block preamble (<html><head>...) — drop it
    body = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def _block(p: Column) -> Column:
        sp = F.split(p, _SENT_TAG, 2)
        tag, rest = F.element_at(sp, 1), F.element_at(sp, 2)
        anchor = F.aggregate(
            F.regexp_extract_all(rest, F.lit(_ANCHOR_TEXT_RE), 1),
            F.lit(0), lambda acc, x: acc + F.length(x))
        return F.struct(tag.alias("tag"),
                        _strip_tags(rest).alias("text"),
                        anchor.cast("int").alias("anchor_chars"),
                        rest.alias("rest"))

    return F.transform(body, _block)


def _base_flag(b: Column) -> Column:
    """Boilerpipe base-content predicate over one block struct — the
    signals of ``boilerplate.score_blocks`` (``block_signals``)."""
    n_words, _, plain = block_signals(b["text"], b["tag"], b["anchor_chars"])
    return F.struct(
        (plain & (n_words >= F.lit(MIN_WORDS))).alias("base"),
        (plain & (n_words >= F.lit(MIN_WORDS_NEIGHBOUR))).alias("weak"))


def _content_blocks(blocks: Column, flags: Column) -> Column:
    """Filter the block array to content blocks — the neighbour
    smoothing pass runs in-array (F.get is NULL-safe out of range)."""
    def _keep(b: Column, i: Column) -> Column:
        here = F.get(flags, i)
        prev = F.coalesce(F.get(flags, i - 1)["base"], F.lit(False))
        nxt = F.coalesce(F.get(flags, i + 1)["base"], F.lit(False))
        ok = here["base"] | (here["weak"] & (prev | nxt))
        return F.when(ok, b)

    return F.filter(F.transform(blocks, _keep), lambda x: x.isNotNull())


def _block_spans(b: Column) -> Column:
    """One block -> array of (kind, text, media_ref) structs: text
    split at every <img> position, images as spans of their own."""
    marked = F.regexp_replace(b["rest"], _IMG_RE, _SENT_IMG + "$1" + _SENT_REF)
    segs = F.split(marked, _SENT_IMG)

    def _text(t: Column) -> Column:
        return F.struct(F.lit("text").alias("kind"), t.alias("text"),
                        F.lit(None).cast("string").alias("media_ref"))

    def _seg(s: Column) -> Column:
        sp = F.split(s, _SENT_REF, 2)
        media = F.struct(F.lit("image").alias("kind"),
                         F.lit(None).cast("string").alias("text"),
                         F.element_at(sp, 1).alias("media_ref"))
        return F.array(media, _text(_strip_tags(F.element_at(sp, 2))))

    head = F.array(_text(_strip_tags(F.element_at(segs, 1))))
    tail = F.flatten(F.transform(
        F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0))), _seg))
    spans = F.concat(head, tail)
    return F.filter(spans,
                    lambda s: (s["kind"] == "image") | (s["text"] != ""))


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def parse_blocks(docs: DataFrame) -> DataFrame:
    """Markup -> ``(doc_id, idx, tag, text, anchor_chars)``, one row per
    DOM block in document order (``idx`` 0-based, computed from the
    markup).  Output feeds ``boilerplate.score_blocks`` /
    ``extract_main_text`` unchanged.

    Plan: one narrow Project (the block array layer) + one Generate —
    no Exchange, no EvalPython (pinned).
    """
    layer = docs.select(F.col("doc_id"),
                        _block_array(F.col("html")).alias("_blocks"))
    # explode_outer + generated-column filter: plain explode's inferred
    # pre-Generate filter re-evaluates the block synthesis per row
    # (CLAUDE.md r5 trap)
    return (layer.select("doc_id", F.posexplode_outer("_blocks")
                         .alias("idx", "b"))
            .filter(F.col("b").isNotNull())
            .select("doc_id", "idx", F.col("b.tag").alias("tag"),
                    F.col("b.text").alias("text"),
                    F.col("b.anchor_chars").alias("anchor_chars")))


def parse_meta(docs: DataFrame) -> DataFrame:
    """Page-metadata census over raw markup: ``(doc_id, title, h1,
    n_links, has_img, first_img)`` — the ``<head>``/landmark summary a
    crawler-side extraction records per page (title tag, first heading,
    anchor count, lead image) before any content decision is made.
    Web analogue of the reference's per-document metadata scan S5
    (``database.py`` page/doc tables: counts + identifying strings).

    Pure regexp column expressions over the markup — narrow, zero
    shuffle, no UDF; ``first_img`` is NULL for pages without an
    ``<img>``.  The entry-query oracle derives every column from the
    synthesis ARITHMETIC (never re-parses), so it checks the parser
    independently, like ``html_table_cells``.
    """
    h = F.col("html")
    return docs.select(
        F.col("doc_id"),
        F.regexp_extract(h, r"<title>(.*?)</title>", 1).alias("title"),
        F.regexp_extract(h, r"<h1>(.*?)</h1>", 1).alias("h1"),
        F.size(F.regexp_extract_all(h, F.lit('<a href="'), 0))
         .alias("n_links"),
        h.contains("<img ").alias("has_img"),
        F.when(h.contains("<img "),
               F.regexp_extract(h, r'<img src="([^"]*)"', 1))
         .alias("first_img"),
    )


def to_spans(docs: DataFrame, content_only: bool = False) -> DataFrame:
    """Markup -> interleaved spans ``(doc_id, spans:array<struct<kind,
    text, media_ref, offset>>)`` — the engine's input_hint shape; the
    interleaved family (caption_pairs, pack_interleaved, span_diff,
    asset_census) consumes the output verbatim.

    ``content_only=True`` drops boilerplate blocks first (Boilerpipe
    scoring + neighbour smoothing, computed IN-ARRAY per document) —
    raw-markup main-content extraction as one shuffle-free map.
    """
    layer = docs.select(F.col("doc_id"),
                        _block_array(F.col("html")).alias("_blocks"))
    blocks = F.col("_blocks")
    if content_only:
        layer = layer.select("doc_id", "_blocks",
                             F.transform(blocks, _base_flag).alias("_flags"))
        blocks = _content_blocks(F.col("_blocks"), F.col("_flags"))

    flat = F.flatten(F.transform(blocks, _block_spans))
    layer = layer.select("doc_id", flat.alias("_spans"))
    spans = F.transform(
        F.col("_spans"),
        lambda s, i: F.struct(s["kind"].alias("kind"),
                              s["text"].alias("text"),
                              s["media_ref"].alias("media_ref"),
                              i.cast("int").alias("offset")))
    return layer.select("doc_id", spans.alias("spans"))


def extract_links(docs: DataFrame, base_col: str | None = None) -> DataFrame:
    """Markup -> ``(doc_id, href, url)`` anchor edges in document
    order.  ``href`` is the raw attribute; ``url`` resolves root-
    relative hrefs (``/path``) against ``base_col`` (the document's
    own origin, e.g. from its crawl URL) — NULL when no base is given.
    Protocol-relative and fragment hrefs pass through unresolved
    (absolute ``http(s)://`` hrefs only are kept as-is).

    Feeds ``operators/urls.py`` normalization and
    ``operators/linkgraph.py`` (the extracted-anchor link graph).
    One Generate, no Exchange.
    """
    base = F.col(base_col) if base_col else F.lit(None).cast("string")
    layer = docs.select(
        "doc_id", base.alias("_base"),
        F.regexp_extract_all(F.col("html"), F.lit(_HREF_RE), 1)
        .alias("_hrefs"))
    out = (layer.select("doc_id", "_base",
                        F.explode_outer("_hrefs").alias("href"))
           .filter(F.col("href").isNotNull()))
    url = (F.when(F.col("href").startswith("/"),
                  F.concat(F.col("_base"), F.col("href")))
           .when(F.col("href").startswith("http"), F.col("href"))
           .otherwise(F.lit(None).cast("string")))
    return out.select("doc_id", "href", url.alias("url"))


def section_outline(docs: DataFrame,
                    heading_tags: tuple[str, ...] = ("h1",)) -> DataFrame:
    """Markup -> ``(doc_id, idx, tag, text, section)``: every DOM block
    labelled with the text of its nearest PRECEDING heading block — the
    document outline a section-aware chunker groups by (heading blocks
    label themselves; blocks before the first heading get NULL).

    The running "current heading" state threads through an IN-ARRAY
    ``aggregate`` fold over the block array, so the whole outline is one
    narrow map — zero shuffle, zero window.  The fold appends to the
    accumulator array (O(blocks^2) element copies per document); DOM
    block counts are O(100) per page, so the quadratic in-array copy is
    orders cheaper than the per-doc window exchange it replaces.

    Oracle twin: ``last_value(heading IGNORE NULLS)`` over the parsed
    block CTE — an independent windowed formulation of the same scan.
    """
    out_t = "array<struct<tag:string,text:string,section:string>>"
    zero = F.struct(F.lit(None).cast("string").alias("h"),
                    F.array().cast(out_t).alias("acc"))

    def _step(acc: Column, b: Column) -> Column:
        is_h = F.lower(b["tag"]).isin(list(heading_tags))
        h = F.when(is_h, b["text"]).otherwise(acc["h"])
        row = F.struct(b["tag"].alias("tag"), b["text"].alias("text"),
                       h.alias("section"))
        return F.struct(h.alias("h"),
                        F.concat(acc["acc"], F.array(row)).alias("acc"))

    folded = F.aggregate(_block_array(F.col("html")), zero, _step,
                         lambda a: a["acc"])
    layer = docs.select(F.col("doc_id"), folded.alias("_out"))
    return (layer.select("doc_id",
                         F.posexplode_outer("_out").alias("idx", "b"))
            .filter(F.col("b").isNotNull())
            .select("doc_id", "idx", F.col("b.tag").alias("tag"),
                    F.col("b.text").alias("text"),
                    F.col("b.section").alias("section")))


def parse_tables(docs: DataFrame) -> DataFrame:
    """Markup -> ``(doc_id, table_idx, row_idx, col_idx, cell)``, one
    row per ``<td>`` cell, all three indices 0-based and computed from
    the markup — the web-corpus analogue of the reference's PDF
    table-grid inference (``kernels/tablegrid.py``: positional rows ->
    grid cells; here the grid is explicit in the tags).

    Same sentinel strategy as :func:`parse_blocks` extended one level:
    ``<table>``/``<tr>``/``<td>`` open tags are rewritten to three
    distinct sentinel bytes, the nesting falls out of three in-array
    splits, and each cell's text is cut at its literal ``</td>`` before
    the tag strip — trailing markup after ``</table>`` can never glue
    onto the last cell.  Everything runs in-array per document (nested
    higher-order transforms carrying (table, row, col) indices), so the
    plan is one narrow Project + one Generate — no Exchange.
    """
    html = F.col("html")
    marked = F.regexp_replace(html, "<table>", _SENT_BLK)
    marked = F.regexp_replace(marked, "<tr>", _SENT_ROW)
    marked = F.regexp_replace(marked, "<td>", _SENT_CELL)

    def _tail(parts: Column) -> Column:
        return F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def _table(t: Column, ti: Column) -> Column:
        def _row(r: Column, ri: Column) -> Column:
            def _cell(c: Column, ci: Column) -> Column:
                body = F.element_at(F.split(c, "</td>", 2), 1)
                return F.struct(ti.cast("int").alias("table_idx"),
                                ri.cast("int").alias("row_idx"),
                                ci.cast("int").alias("col_idx"),
                                _strip_tags(body).alias("cell"))
            return F.transform(_tail(F.split(r, _SENT_CELL)), _cell)
        return F.flatten(F.transform(_tail(F.split(t, _SENT_ROW)), _row))

    cells = F.flatten(F.transform(_tail(F.split(marked, _SENT_BLK)), _table))
    layer = docs.select(F.col("doc_id"), cells.alias("_cells"))
    # explode_outer + post-filter: the r5 nullable-explode trap
    return (layer.select("doc_id", F.explode_outer("_cells").alias("c"))
            .filter(F.col("c").isNotNull())
            .select("doc_id", "c.table_idx", "c.row_idx", "c.col_idx",
                    "c.cell"))


# ---------------------------------------------------------------------------
# deterministic markup lift (dialect-shared synthesis)
# ---------------------------------------------------------------------------

def synth_html(docs: DataFrame) -> DataFrame:
    """``(doc_id, site, html)`` — deterministic markup lift of the flat
    corpus, replayed verbatim in the DuckDB oracles.

    Rule: text sanitized (``<``/``>`` -> parens), sliced into p1a
    (chars 1-40), p1b (41-80), p2 (81..); the page is title + nav (two
    links, one root-relative) + h1 (=p1a) + a first paragraph that
    embeds ``<img src="img-<id>.png">`` between p1a and p1b for EVEN
    doc ids + (when p2 non-empty) a second paragraph ending in a
    cross-site anchor + footer.  ``site`` is the document's origin
    ``https://site-<id%7>.example.com`` (7 synthetic hosts).
    """
    did = F.col("doc_id").cast("string")
    s = F.regexp_replace(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "<", "("),
        ">", ")")
    sid = (F.col("doc_id") % 7).cast("string")
    site = F.concat(F.lit("https://site-"), sid, F.lit(".example.com"))
    p1a = F.trim(F.substring(s, 1, 40))
    p1b = F.trim(F.substring(s, 41, 40))
    p2 = F.trim(F.substring(s, 81, 1000000))
    img = F.when(F.col("doc_id") % 2 == 0,
                 F.concat(F.lit('<img src="img-'), did, F.lit('.png">'))
                 ).otherwise(F.lit(""))
    see = F.concat(F.lit("https://site-"),
                   ((F.col("doc_id") + 3) % 7).cast("string"),
                   F.lit(".example.com/d"),
                   (F.col("doc_id") % 50).cast("string"))
    p2_block = F.when(
        F.length(p2) > 0,
        F.concat(F.lit("<p>"), p2, F.lit(' <a href="'), see,
                 F.lit('">see also</a></p>'))).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title></head><body>"),
        F.lit('<nav><a href="/about">about</a> <a href="'), site,
        F.lit('/home">home</a></nav>'),
        F.lit("<h1>"), p1a, F.lit("</h1>"),
        F.lit("<p>"), p1a, F.lit(" "), img, p1b, F.lit("</p>"),
        p2_block,
        F.lit("<footer>copyright site-"), sid,
        F.lit("</footer></body></html>"))
    return docs.select(F.col("doc_id"), site.alias("site"), html.alias("html"))


def synth_tables(docs: DataFrame) -> DataFrame:
    """``(doc_id, html)`` — deterministic TABLE markup lift: doc ``id``
    carries ``1 + id % 2`` tables; table ``t`` is a ``(2 + (id+t) % 3)``
    x ``(2 + (id+t) % 2)`` grid; cell ``(t, r, c)`` holds
    ``'v' || (id*31 + t*13 + r*7 + c*3) % 997``.

    The oracle twin does NOT re-parse: it derives the same cells from
    the arithmetic directly (generate_series), so the query checks the
    sentinel parser against an independent computation.
    """
    did = F.col("doc_id")

    def _table(t: Column) -> Column:
        def _row(r: Column) -> Column:
            def _cell(c: Column) -> Column:
                v = (did * 31 + t * 13 + r * 7 + c * 3) % 997
                return F.concat(F.lit("<td>v"), v.cast("string"),
                                F.lit("</td>"))
            n_cols = (did + t) % 2 + 2
            return F.concat(
                F.lit("<tr>"),
                F.array_join(F.transform(
                    F.sequence(F.lit(0).cast("long"), n_cols - 1), _cell), ""),
                F.lit("</tr>"))
        n_rows = (did + t) % 3 + 2
        return F.concat(
            F.lit("<table>"),
            F.array_join(F.transform(
                F.sequence(F.lit(0).cast("long"), n_rows - 1), _row), ""),
            F.lit("</table>"))

    tables = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("long"), did % 2), _table), "")
    html = F.concat(
        F.lit("<html><body><h1>Tables "), did.cast("string"),
        F.lit("</h1>"), tables,
        F.lit("<footer>generated</footer></body></html>"))
    return docs.select(F.col("doc_id"), html.alias("html"))
