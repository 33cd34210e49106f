"""Interleaved text+media span operators with computational oracles.

The engine's input contract (BASELINE ``input_hint``) is an Iceberg
table of interleaved documents: ``(doc_id, spans:array<struct<
kind:string, text:string, media_ref:string, offset:int>>)``.  The
extraction pipeline consumes that shape from fixtures and is verified
against golden artifacts; this module closes the remaining gap — a
family of spans-shape operators whose semantics are simple enough to
replay *computationally* in ANSI SQL, so the DuckDB oracle derives the
same interleaved table from the plain ``documents`` corpus and checks
values end-to-end with no golden file in the loop.

Operators:

  * :func:`synth_interleaved` — deterministically lift the flat
    ``documents`` table into the interleaved spans shape: whitespace
    tokens grouped into fixed-size text spans, a synthetic image span
    injected after every ``media_every``-th text span (the classic
    web-doc shape: paragraphs with inline figures).  Pure narrow
    column expressions — one ``transform`` over a position sequence,
    no explode, no shuffle.
  * :func:`caption_pairs` — for every media span, the nearest
    PRECEDING text span in reading order (the standard weak-label
    captioning rule for interleaved corpora, cf. the alt-text/figure
    pairing used by CLIP-style dataset builders).  A single O(n)
    ``aggregate`` fold per document: zero shuffle, zero explode — the
    whole operator is map-side.
  * :func:`pack_interleaved` — cut each document's span sequence into
    fixed token-budget training sequences where a text span costs its
    token count and a media span costs a fixed ``media_cost`` (vision
    tokens); spans never split, sequences never cross documents.
    ``seq_id = floor((cumsum - cost) / budget)`` — the same cumsum
    formulation as :func:`chunking.pack_documents`, but PER DOCUMENT:
    the window is keyed by ``doc_id`` (never partition-less) and the
    following per-(doc, seq) aggregate reuses the window's hash
    partitioning (``doc_id`` is a subset of the grouping key), so the
    whole operator costs exactly ONE exchange at any corpus size.

Reference parity: the reference pipeline's span model is
``extractor.py`` emitting (kind, text, media_ref, order) rows per
document (see SURVEY §1.1); these operators generalize that shape to
corpus-scale multimodal curation.  100 TB shape: everything here is
either fully narrow or keyed by ``doc_id`` — skew follows document
length and is bounded by the same ``skew.salted_repartition`` defusal
the extraction path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T

#: span struct field order — matches the input_hint / fixtures schema
_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def synth_interleaved(docs: DataFrame, span_tokens: int = 8,
                      media_every: int = 3) -> DataFrame:
    """``(doc_id, spans)`` — deterministic interleaved lift of a flat
    text corpus.

    Rule (exactly replayable in SQL): whitespace tokens are grouped
    into consecutive text spans of ``span_tokens`` tokens (final span
    = remainder); after every ``media_every``-th text span an image
    span is injected with ``media_ref = 'img_<doc_id>_<k>'`` (k =
    1-based media index) and NULL text.  ``offset`` is the 0-based
    position in the combined sequence, computed from the rule — never
    from partition order.

    With block size ``B = media_every + 1``, combined position ``p``
    is a media span iff ``(p + 1) % B == 0``; its media index is
    ``(p + 1) / B``; a text position's chunk index is
    ``p - floor((p + 1) / B)``.  Total length = ``n_chunks +
    floor(n_chunks / media_every)``.

    DuckDB twin (exploded form)::

        WITH d AS (SELECT doc_id,
                          list_filter(string_split(text, ' '),
                                      t -> t != '') AS toks
                   FROM documents),
        n AS (SELECT doc_id, toks,
                     CAST(ceil(len(toks) / 8.0) AS BIGINT) AS nc
              FROM d WHERE len(toks) > 0)
        SELECT doc_id, p AS "offset",
               CASE WHEN (p + 1) % 4 = 0 THEN 'image' ELSE 'text' END
                 AS kind, ...
        FROM n, unnest(range(0, nc + nc // 3)) AS u(p)

    Narrow plan: one projection builds the span array inside a single
    ``transform`` (the Generate-no-CSE rule: the token array is
    referenced through one hoisted column layer, sliced once per
    span).
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1; got {span_tokens}")
    if media_every < 1:
        raise ValueError(f"media_every must be >= 1; got {media_every}")
    blk = F.lit(media_every + 1)
    tok_df = docs.select(F.col("doc_id"),
                         T.tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(span_tokens)).cast("int")
    n_media = F.floor(n_chunks / F.lit(media_every)).cast("int")
    total = (n_chunks + n_media).cast("int")

    def span(p: F.Column) -> F.Column:
        is_media = ((p + 1) % blk) == 0
        media_idx = ((p + 1) / blk).cast("int")
        chunk_idx = (p - F.floor((p + 1) / blk)).cast("int")
        text = F.concat_ws(
            " ", F.slice(toks, chunk_idx * span_tokens + 1, span_tokens))
        return F.struct(
            F.when(is_media, F.lit("image")).otherwise(F.lit("text"))
             .alias("kind"),
            F.when(is_media, F.lit(None).cast("string")).otherwise(text)
             .alias("text"),
            F.when(is_media,
                   F.concat(F.lit("img_"), F.col("doc_id").cast("string"),
                            F.lit("_"), media_idx.cast("string")))
             .otherwise(F.lit(None).cast("string")).alias("media_ref"),
            p.cast("int").alias("offset"))

    spans = F.when(n > 0,
                   F.transform(F.sequence(F.lit(0), total - 1), span)) \
             .otherwise(F.array().cast(
                 "array<struct<kind:string,text:string,"
                 "media_ref:string,offset:int>>"))
    return tok_df.select(F.col("doc_id"), spans.alias("spans"))


def caption_pairs(inter: DataFrame) -> DataFrame:
    """``(doc_id, media_ref, media_offset, caption, caption_offset)``
    — each media span paired with the nearest PRECEDING text span in
    reading order (NULL caption when no text precedes, e.g. a
    media-first document).

    Zero-shuffle form: spans are re-sorted by ``offset`` inside the
    array (``array_sort`` on an offset-first restructure — reading
    order is an invariant of the data, never of partition layout),
    then ONE O(n) ``aggregate`` fold per document carries
    ``(last_text, last_off)`` state and appends a pair at every media
    span.  No explode before the fold, no window, no exchange — the
    operator is entirely map-side; the final ``explode`` of the tiny
    pairs array is the only row amplification.

    DuckDB twin (over the exploded spans)::

        SELECT doc_id, media_ref, "offset" AS media_offset,
               last_value(CASE WHEN kind = 'text' THEN text END
                          IGNORE NULLS)
                 OVER (PARTITION BY doc_id ORDER BY "offset") AS caption,
               ...
        FROM spans QUALIFY kind = 'image'
    """
    pair_t = ("array<struct<media_ref:string,media_offset:int,"
              "caption:string,caption_offset:int>>")
    acc_t = (f"struct<last_text:string,last_off:int,pairs:{pair_t}>")
    # offset-first restructure => lexicographic array_sort == offset sort
    ordered = F.array_sort(F.transform(
        F.col("spans"),
        lambda s: F.struct(s["offset"].alias("offset"),
                           s["kind"].alias("kind"),
                           s["text"].alias("text"),
                           s["media_ref"].alias("media_ref"))))

    def step(acc: F.Column, s: F.Column) -> F.Column:
        is_text = s["kind"] == F.lit("text")
        pair = F.struct(s["media_ref"].alias("media_ref"),
                        s["offset"].alias("media_offset"),
                        acc["last_text"].alias("caption"),
                        acc["last_off"].alias("caption_offset"))
        return F.struct(
            F.when(is_text, s["text"]).otherwise(acc["last_text"])
             .alias("last_text"),
            F.when(is_text, s["offset"]).otherwise(acc["last_off"])
             .alias("last_off"),
            F.when(is_text, acc["pairs"])
             .otherwise(F.concat(acc["pairs"], F.array(pair)))
             .alias("pairs"))

    init = F.struct(
        F.lit(None).cast("string").alias("last_text"),
        F.lit(None).cast("int").alias("last_off"),
        F.array().cast(pair_t).alias("pairs")).cast(acc_t)
    folded = inter.select(
        F.col("doc_id"),
        F.aggregate(ordered, init, step)["pairs"].alias("_pairs"))
    # explode_outer + post-filter on the GENERATED column, not explode:
    # plain explode plans a pre-Generate Filter (size > 0 AND isnotnull)
    # on the array, and filter pushdown substitutes the alias — the
    # whole fold would re-evaluate twice more per row (the Generate-
    # no-CSE lesson; same fix in pack_interleaved / entry queries)
    ex = (folded.select(F.col("doc_id"), F.explode_outer("_pairs").alias("_p"))
          .filter(F.col("_p").isNotNull()))
    return ex.select(
        F.col("doc_id"), F.col("_p.media_ref").alias("media_ref"),
        F.col("_p.media_offset").alias("media_offset"),
        F.col("_p.caption").alias("caption"),
        F.col("_p.caption_offset").alias("caption_offset"))


def span_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """``(doc_id, verdict, first_diff_offset, n_left, n_right)`` —
    corpus-scale extraction regression diff between two interleaved
    span tables (e.g. the outputs of two pipeline versions over the
    same corpus).  This is the repo's own north-rule invariant —
    span-sequence equality on (kind, text, media_ref, order) — turned
    into a distributed operator, so a pipeline upgrade can be
    validated over the WHOLE corpus, not just the golden fixtures.

    Verdicts: ``equal`` (identical ordered span sequences),
    ``diverged`` (both sides have the doc, sequences differ —
    ``first_diff_offset`` is the 0-based position of the first
    differing span; a position present on only one side counts as a
    difference there), ``left_only`` / ``right_only`` (doc missing
    from the other run; counts for the missing side are NULL).

    Shape: ONE full-outer equi-join on ``doc_id`` (the only
    exchange).  The positional comparison is fully narrow — spans are
    normalized into reading order inside the array (offset-first
    restructure + ``array_sort``, partition-layout-free), then one
    ``filter`` over an index ``sequence`` compares positions with
    :func:`F.get` (out-of-range → NULL, never an ANSI error, which is
    exactly the "one side longer" difference case).  At 100 TB the
    cost is the doc_id shuffle of the two span tables; skew follows
    document length and is bounded by the same
    ``skew.salted_repartition`` defusal the extraction path uses.

    DuckDB twin: full-join the two EXPLODED span relations on
    ``(doc_id, offset)`` — offsets are positions, so positional and
    offset comparison coincide — with ``IS NOT DISTINCT FROM`` field
    equality; ``min(offset) FILTER (WHERE NOT eq)`` is the first
    divergence (see the ``span_diff`` oracle in
    ``__spark_entry__.py``).
    """
    def norm(df: DataFrame, out: str) -> DataFrame:
        ordered = F.array_sort(F.transform(
            F.col("spans"),
            lambda s: F.struct(s["offset"].alias("offset"),
                               s["kind"].alias("kind"),
                               s["text"].alias("text"),
                               s["media_ref"].alias("media_ref"))))
        return df.select(F.col("doc_id"), ordered.alias(out))

    j = norm(left, "_l").join(norm(right, "_r"), on="doc_id", how="full")
    nl, nr = F.size("_l"), F.size("_r")
    hi = F.greatest(nl, nr)

    def differs(i: F.Column) -> F.Column:
        a, b = F.get("_l", i), F.get("_r", i)
        same = (a["kind"].eqNullSafe(b["kind"])
                & a["text"].eqNullSafe(b["text"])
                & a["media_ref"].eqNullSafe(b["media_ref"])
                & a["offset"].eqNullSafe(b["offset"]))
        return ~F.when(a.isNotNull() & b.isNotNull(), same) \
                 .otherwise(F.lit(False))

    # hi == 0 (two empty docs) must NOT build sequence(0, -1): sequence
    # with start > stop produces a DESCENDING range, not an empty array
    diffs = F.when(hi > 0,
                   F.filter(F.sequence(F.lit(0), hi - 1), differs)) \
             .otherwise(F.array().cast("array<int>"))
    first = F.get(diffs, 0)
    verdict = (F.when(F.col("_l").isNull(), F.lit("right_only"))
                .when(F.col("_r").isNull(), F.lit("left_only"))
                .when(first.isNull(), F.lit("equal"))
                .otherwise(F.lit("diverged")))
    return j.select(
        F.col("doc_id"),
        verdict.alias("verdict"),
        F.when(F.col("_l").isNotNull() & F.col("_r").isNotNull(), first)
         .cast("int").alias("first_diff_offset"),
        nl.cast("int").alias("n_left"),
        nr.cast("int").alias("n_right"))


def pack_interleaved(inter: DataFrame, budget_tokens: int = 64,
                     media_cost: int = 16) -> DataFrame:
    """``(doc_id, seq_id, n_spans, n_text, n_media, seq_tokens)`` —
    fixed token-budget multimodal sequence packing.  A text span costs
    its whitespace-token count, a media span a flat ``media_cost``
    (vision-encoder tokens); spans fill sequences in reading order
    under the cumsum rule ``seq_id = floor((cumsum - cost) /
    budget_tokens)`` (the span PACKS INTO the sequence it starts in —
    same convention as :func:`chunking.pack_documents`, off by at most
    one span per boundary vs strict greedy).  Sequences never cross
    documents.

    ONE exchange total: the cumsum window is keyed by ``doc_id``
    (partition spec always present), and the per-``(doc_id, seq_id)``
    aggregate's required clustering is satisfied by the window's
    existing hash partitioning (grouping key is a superset), so no
    second shuffle is planned — pinned in
    ``tests/test_interleaved.py``.

    DuckDB twin (over the exploded spans)::

        WITH c AS (SELECT doc_id, "offset",
                          kind = 'text' AS is_text,
                          CASE WHEN kind = 'text'
                               THEN len(list_filter(string_split(text,
                                    ' '), t -> t != ''))
                               ELSE 16 END AS cost
                   FROM spans),
        s AS (SELECT *, (SUM(cost) OVER (PARTITION BY doc_id ORDER BY
                          "offset") - cost) // 64 AS seq_id FROM c)
        SELECT doc_id, seq_id, COUNT(*) AS n_spans, ... GROUP BY 1, 2
    """
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1; got {budget_tokens}")
    if media_cost < 1:
        raise ValueError(f"media_cost must be >= 1; got {media_cost}")
    ex = (inter.select(F.col("doc_id"), F.explode_outer("spans").alias("s"))
          .filter(F.col("s").isNotNull()))
    is_text = F.col("s.kind") == F.lit("text")
    cost = F.when(is_text, F.size(T.tokens(F.col("s.text")))) \
            .otherwise(F.lit(media_cost)).cast("long")
    costed = ex.select(F.col("doc_id"), F.col("s.offset").alias("offset"),
                       is_text.alias("is_text"), cost.alias("cost"))
    w = Window.partitionBy("doc_id").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    seq = F.floor((F.sum("cost").over(w) - F.col("cost"))
                  / F.lit(budget_tokens)).cast("long")
    binned = costed.select(F.col("doc_id"), F.col("is_text"), F.col("cost"),
                           seq.alias("seq_id"))
    return (binned.groupBy("doc_id", "seq_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_spans"),
                 F.sum(F.col("is_text").cast("int")).cast("int")
                  .alias("n_text"),
                 F.sum((~F.col("is_text")).cast("int")).cast("int")
                  .alias("n_media"),
                 F.sum("cost").cast("long").alias("seq_tokens")))


def _ordered_spans(spans: F.Column) -> F.Column:
    """Offset-first restructure + ``array_sort`` — reading order is an
    invariant of the data, never of partition layout (same normalization
    as :func:`caption_pairs` / :func:`span_diff`)."""
    return F.array_sort(F.transform(
        spans,
        lambda s: F.struct(s["offset"].alias("offset"),
                           s["kind"].alias("kind"),
                           s["text"].alias("text"),
                           s["media_ref"].alias("media_ref"))))


def merge_adjacent_text(inter: DataFrame) -> DataFrame:
    """``(doc_id, spans)`` — re-segmentation: every run of consecutive
    text spans is merged into one paragraph span (texts joined by one
    space), media spans are preserved in place, and ``offset`` is
    renumbered 0..m-1 over the merged sequence.  This is the interleaved
    analogue of DOM text-node coalescing in the reference's HTML path
    (adjacent extracted text nodes collapse into one block before
    boilerplate scoring) — at corpus scale it normalizes span
    granularity so two pipeline versions that split paragraphs
    differently still compare equal under :func:`span_diff`.

    Fully narrow: spans are normalized into reading order inside the
    array, then ONE O(n) ``aggregate`` fold per document carries
    ``(pending_text, out)`` state — a text span extends ``pending``, a
    media span flushes it; the finish lambda flushes the tail and
    renumbers offsets with an indexed ``transform``.  Zero shuffle,
    zero explode; offsets derive from the merge rule, never from
    partition order.

    DuckDB twin (over the exploded spans): run-group text spans by the
    count of preceding media spans, ``string_agg(text ORDER BY
    offset)`` per run, union media rows back, renumber with
    ``ROW_NUMBER() OVER (ORDER BY first_offset)`` (see the
    ``interleaved_merged`` oracle in ``__spark_entry__.py``).
    """
    out_t = ("array<struct<kind:string,text:string,media_ref:string>>")
    acc_t = f"struct<pend:string,out:{out_t}>"
    ordered = _ordered_spans(F.col("spans"))

    def flush(acc: F.Column) -> F.Column:
        para = F.struct(F.lit("text").alias("kind"),
                        acc["pend"].alias("text"),
                        F.lit(None).cast("string").alias("media_ref"))
        return F.when(acc["pend"].isNull(), acc["out"]) \
                .otherwise(F.concat(acc["out"], F.array(para)))

    def step(acc: F.Column, s: F.Column) -> F.Column:
        is_text = s["kind"] == F.lit("text")
        media = F.struct(s["kind"].alias("kind"),
                         s["text"].alias("text"),
                         s["media_ref"].alias("media_ref"))
        return F.struct(
            F.when(~is_text, F.lit(None).cast("string"))
             .when(acc["pend"].isNull(), s["text"])
             .otherwise(F.concat(acc["pend"], F.lit(" "), s["text"]))
             .alias("pend"),
            F.when(is_text, acc["out"])
             .otherwise(F.concat(flush(acc), F.array(media)))
             .alias("out"))

    init = F.struct(F.lit(None).cast("string").alias("pend"),
                    F.array().cast(out_t).alias("out")).cast(acc_t)
    merged = F.aggregate(ordered, init, step, flush)
    renum = F.transform(
        merged,
        lambda s, i: F.struct(s["kind"].alias("kind"),
                              s["text"].alias("text"),
                              s["media_ref"].alias("media_ref"),
                              i.cast("int").alias("offset")))
    return inter.select(F.col("doc_id"), renum.alias("spans"))


def media_context(inter: DataFrame, k: int = 2) -> DataFrame:
    """``(doc_id, media_ref, media_offset, before_text, after_text,
    n_before, n_after)`` — each media span with the concatenation of
    its up-to-``k`` nearest PRECEDING and FOLLOWING text spans in
    reading order (offset order inside each side, joined by a single
    space; NULL when the side is empty).  This is the standard context
    window for CLIP/interleaved-pretraining pair building — a
    generalization of :func:`caption_pairs` (which is ``k=1``, before
    side only).

    Narrow plan: text and media spans are projected ONCE into hoisted
    array layers (the Generate-no-CSE rule), then one ``transform``
    over the media array slices the text array around each media
    offset — O(n_text) per media span, bounded by spans-per-document
    (documents at the 100 TB scale are chunked upstream by
    ``operators/chunking.py`` long before per-doc span counts matter).
    The only row amplification is the final ``explode_outer`` of the
    per-doc pairs array; no window, no self-join, zero extra shuffle.

    DuckDB twin: equi-join media to text spans per doc, rank each side
    by distance (``ROW_NUMBER() ... ORDER BY offset DESC`` / ``ASC``),
    keep rank <= k, ``string_agg(text ORDER BY offset)`` per
    (media, side) — see the ``media_context`` oracle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    ordered = _ordered_spans(F.col("spans"))
    layer1 = inter.select(
        F.col("doc_id"),
        F.filter(ordered, lambda s: s["kind"] == F.lit("text"))
         .alias("_txt"),
        F.filter(ordered, lambda s: s["kind"] != F.lit("text"))
         .alias("_med"))

    txt = F.col("_txt")

    def side_text(arr: F.Column) -> F.Column:
        return F.when(F.size(arr) > 0,
                      F.concat_ws(" ", F.transform(arr,
                                                   lambda t: t["text"]))) \
                .otherwise(F.lit(None).cast("string"))

    def pair(m: F.Column) -> F.Column:
        prior = F.filter(txt, lambda t: t["offset"] < m["offset"])
        npr = F.size(prior)
        before = F.when(npr > k, F.slice(prior, npr - k + 1, k)) \
                  .otherwise(prior)
        after = F.slice(
            F.filter(txt, lambda t: t["offset"] > m["offset"]), 1, k)
        return F.struct(
            m["media_ref"].alias("media_ref"),
            m["offset"].alias("media_offset"),
            side_text(before).alias("before_text"),
            side_text(after).alias("after_text"),
            F.size(before).cast("int").alias("n_before"),
            F.size(after).cast("int").alias("n_after"))

    layer2 = layer1.select(F.col("doc_id"),
                           F.transform(F.col("_med"), pair).alias("_pairs"))
    ex = (layer2.select(F.col("doc_id"), F.explode_outer("_pairs").alias("_p"))
          .filter(F.col("_p").isNotNull()))
    return ex.select(
        F.col("doc_id"), F.col("_p.media_ref").alias("media_ref"),
        F.col("_p.media_offset").alias("media_offset"),
        F.col("_p.before_text").alias("before_text"),
        F.col("_p.after_text").alias("after_text"),
        F.col("_p.n_before").alias("n_before"),
        F.col("_p.n_after").alias("n_after"))


def _asset_name(ref: F.Column, pool: int | None) -> F.Column:
    """Asset identity for a media_ref.  With ``pool`` set, refs are
    deterministically folded into a shared pool of ``pool`` assets —
    ``'asset_' || (hash32(ref) % pool)`` — modelling the web reality
    that the same image/CDN asset is embedded by many pages (the
    synthetic lift mints per-doc refs, so the fold is what makes
    reuse observable at test scale).  DuckDB twin:
    ``'asset_' || (('0x' || substr(md5(ref), 1, 8))::BIGINT % pool)``.
    """
    if pool is None:
        return ref
    return F.concat(F.lit("asset_"), (H.hash32(ref) % pool).cast("string"))


def asset_census(inter: DataFrame, pool: int | None = None) -> DataFrame:
    """``(asset, n_docs, n_occurrences, min_offset, max_offset)`` —
    corpus-wide media-asset reuse census: for every (pooled) asset, how
    many documents embed it, how often, and where in reading order it
    appears.  The asset-level mirror of the reference's image-output
    census (extractor.py's X13 image inventory counts per-document
    images; this counts per-asset documents) and the first step of any
    asset-level dedup/caching decision at 100 TB.

    Shape: media spans are projected out of the array narrowly (filter
    + transform, no explode of text spans), ONE explode of the small
    media array, then ONE hash aggregate on the asset key with map-side
    combine — a single shuffle whose width is the number of distinct
    assets, not documents.  ``n_docs`` is a count-distinct over doc_id
    (two-phase partial aggregation, still one exchange).
    """
    media = F.filter(_ordered_spans(F.col("spans")),
                     lambda s: s["kind"] != F.lit("text"))
    per = F.transform(
        media,
        lambda s: F.struct(_asset_name(s["media_ref"], pool).alias("asset"),
                           s["offset"].alias("offset")))
    ex = (inter.select(F.col("doc_id"), F.explode_outer(per).alias("_m"))
          .filter(F.col("_m").isNotNull()))
    return (ex.groupBy(F.col("_m.asset").alias("asset"))
            .agg(F.countDistinct(F.col("doc_id")).cast("int").alias("n_docs"),
                 F.count(F.lit(1)).cast("int").alias("n_occurrences"),
                 F.min(F.col("_m.offset")).cast("int").alias("min_offset"),
                 F.max(F.col("_m.offset")).cast("int").alias("max_offset")))


def asset_dedup_groups(inter: DataFrame, pool: int | None = None) -> DataFrame:
    """``(asset_sig, n_docs, keep_doc_id)`` — documents grouped by the
    md5 signature of their SORTED DISTINCT media-asset set; the
    templated-page analogue of exact text dedup (mirror sites and
    boilerplate templates share the same asset set even when their text
    differs).  Documents with no media spans are excluded — an empty
    asset set is not evidence of templating.

    Fully narrow signature (array filter/transform/distinct/sort +
    one md5 inside a single projection — no explode, no per-asset
    rows), then ONE hash aggregate on the 32-hex signature: a single
    16-byte-key shuffle exactly like ``dedup_exact``.  ``keep_doc_id``
    is min(doc_id) — the same deterministic keep-first rule as
    :func:`dedup.deduplicate_corpus`.
    """
    assets = F.array_sort(F.array_distinct(F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("text")),
        lambda s: _asset_name(s["media_ref"], pool))))
    sig = F.md5(F.concat_ws(",", assets))
    per_doc = (inter.select(F.col("doc_id"), F.size(assets).alias("_n"),
                            sig.alias("asset_sig"))
               .filter(F.col("_n") > 0))
    return (per_doc.groupBy("asset_sig")
            .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
                 F.min(F.col("doc_id")).alias("keep_doc_id")))


def interleaved_quality(inter: DataFrame) -> DataFrame:
    """``(doc_id, n_spans, n_text, n_media, text_tokens, media_ratio,
    caption_coverage, verdict)`` — per-document interleaved quality
    flags, the multimodal row of the curation funnel
    (``operators/curation.py`` scores flat text; this scores the spans
    SHAPE): media-only documents carry no alignable text, media-heavy
    documents blow the vision-token budget, and ``caption_coverage``
    (fraction of media spans with at least one preceding text span —
    exactly the spans :func:`caption_pairs` can label) measures how
    much of the media is usable for caption-style pairing.

    Verdicts: ``media_only`` (no text spans but media present),
    ``media_heavy`` (media fraction > 0.5), ``empty``
    (no spans at all), else ``keep`` (text-only documents are fine —
    they are ordinary LM data).  Fully narrow: every statistic is an
    array aggregate inside one projection; no explode, no shuffle —
    at 100 TB this is a pure map over the corpus.
    """
    spans = F.col("spans")
    n_spans = F.size(spans)
    txts = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    n_text = F.size(txts)
    n_media = n_spans - n_text
    text_tokens = F.aggregate(
        txts, F.lit(0).cast("long"),
        lambda acc, s: acc + F.size(T.tokens(s["text"])))
    min_txt_off = F.array_min(F.transform(txts, lambda s: s["offset"]))
    covered = F.size(F.filter(
        spans, lambda s: (s["kind"] != F.lit("text"))
        & (s["offset"] > min_txt_off)))
    media_ratio = F.when(
        n_spans > 0,
        F.round(n_media.cast("double") / n_spans.cast("double"), 6)) \
        .otherwise(F.lit(None).cast("double"))
    coverage = F.when(
        n_media > 0,
        F.round(covered.cast("double") / n_media.cast("double"), 6)) \
        .otherwise(F.lit(None).cast("double"))
    # verdict is derived AFTER the stats layer so the expensive array
    # aggregates are referenced exactly once (the no-cross-alias-CSE rule)
    layer = inter.select(
        F.col("doc_id"), n_spans.cast("int").alias("n_spans"),
        n_text.cast("int").alias("n_text"),
        n_media.cast("int").alias("n_media"),
        text_tokens.alias("text_tokens"),
        media_ratio.alias("media_ratio"),
        coverage.alias("caption_coverage"))
    return layer.select(
        "*",
        (F.when(F.col("n_spans") == 0, F.lit("empty"))
          .when((F.col("n_text") == 0) & (F.col("n_media") > 0),
                F.lit("media_only"))
          .when(F.col("media_ratio") > F.lit(0.5),
                F.lit("media_heavy"))
          .otherwise(F.lit("keep"))).alias("verdict"))
