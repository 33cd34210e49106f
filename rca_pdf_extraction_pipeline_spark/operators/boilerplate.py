"""HTML boilerplate stripping as a DataFrame operator (north_rule:
"HTML boilerplate stripping (DOM tree heuristics, text-density/
link-density scoring a la Readability)").

Input model: one row per DOM block, in document order —
    (doc_id, idx:int, tag:string, text:string, anchor_chars:int)
— the flat form of a parsed DOM. The scoring follows the shallow-text
heuristics of Boilerpipe (Kohlschütter et al., WSDM 2010): a block is
content iff its link density is low and it is word-dense, OR it is a
short low-link block adjacent to a content block (one smoothing pass).

Everything here is pure column expressions + window functions — no
UDFs, so at 100 TB the scoring runs inside WholeStageCodegen and the
only shuffle is the per-document window/groupBy on doc_id (one
exchange, reused by both the lag/lead smoothing and the final
aggregation since they share the partitioning key).

The DuckDB twins ``html_boilerplate`` / ``html_block_scores`` in
``__spark_entry__.oracle_sql`` are the reference; tier-1 checks the
entry queries against them (tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: tags whose blocks are never content, whatever their text
NON_CONTENT_TAGS = frozenset(
    {"nav", "header", "footer", "aside", "script", "style", "form", "button"}
)
#: a content block's anchor characters stay under this share of its text
LINK_DENSITY_MAX = 0.33
#: words that make a low-link block content on its own ...
MIN_WORDS = 10
#: ... and the floor for a short block next to a content block
MIN_WORDS_NEIGHBOUR = 3


def block_signals(text: Column, tag: Column,
                  anchor_chars: Column) -> tuple[Column, Column, Column]:
    """Boilerpipe's shallow-text signals of one block: ``(n_words,
    link_density, plain)``, where ``plain`` is a content tag whose link
    density is under ``LINK_DENSITY_MAX``.  The one definition behind
    :func:`score_blocks` and the in-array markup path
    (``htmlparse._base_flag``)."""
    text = F.coalesce(text, F.lit(""))
    n_words = F.size(F.filter(F.split(text, " "), lambda t: t != F.lit("")))
    link_density = (F.coalesce(anchor_chars, F.lit(0)).cast("double")
                    / F.greatest(F.length(text), F.lit(1)).cast("double"))
    bad_tag = F.lower(F.coalesce(tag, F.lit(""))).isin(list(NON_CONTENT_TAGS))
    return n_words, link_density, (~bad_tag) & (link_density < LINK_DENSITY_MAX)


def score_blocks(blocks: DataFrame) -> DataFrame:
    """blocks + (n_words, link_density, is_content)."""
    n_words, link_density, plain = block_signals(
        F.col("text"), F.col("tag"), F.col("anchor_chars"))
    base = plain & (n_words >= MIN_WORDS)

    w = Window.partitionBy("doc_id").orderBy("idx")
    prev_c = F.coalesce(F.lag(base, 1).over(w), F.lit(False))
    next_c = F.coalesce(F.lead(base, 1).over(w), F.lit(False))
    neighbour = plain & (n_words >= MIN_WORDS_NEIGHBOUR) & (prev_c | next_c)

    return blocks.select(
        "*",
        n_words.alias("n_words"),
        F.round(link_density, 6).alias("link_density"),
        (base | neighbour).alias("is_content"),
    )


def extract_main_text(blocks: DataFrame) -> DataFrame:
    """Per document: ordered content blocks joined by newline.

    (doc_id, main_text, n_blocks) — deterministic order by block idx via
    sorted struct collection."""
    scored = score_blocks(blocks)
    content = scored.filter(F.col("is_content"))
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "text"))),
            lambda x: x["text"],
        ),
        "\n",
    )
    return content.groupBy("doc_id").agg(
        joined.alias("main_text"),
        F.count(F.lit(1)).alias("n_blocks"),
    )


def remove_frequent_lines(docs: DataFrame, min_df: int = 5) -> DataFrame:
    """Corpus-level boilerplate-line removal (the CCNet / C4 paragraph
    dedup heuristic, public): a line whose DOCUMENT frequency reaches
    ``min_df`` is boilerplate (nav bars, footers, cookie banners) and is
    dropped from every document; the remaining lines reassemble in
    original order.

    Returns (id, clean_text, n_kept); documents whose every line was
    boilerplate are absent.

    Scale shape: two aggregations and NO big-big join —
      1. document frequency per md5(line) with map-side partial agg
         (distinct (doc, line) pairs first, so a line repeated within
         one doc counts once);
      2. the banned set (df >= min_df) is TINY by construction — a line
         frequent across a 10^12-doc corpus is rare in kind, not count —
         so it broadcasts and the removal is a broadcast anti-join
         inside the line scan, not a shuffle of every line;
      3. one groupBy(doc) to reassemble, order carried by the exploded
         position (never partition order).
    """
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    df_counts = (lines.select("h", "doc_id").distinct()
                 .groupBy("h").agg(F.count(F.lit(1)).alias("df")))
    banned = df_counts.filter(F.col("df") >= min_df).select("h")
    kept = lines.join(F.broadcast(banned), "h", "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "line"))),
        lambda s: s["line"])
    return kept.groupBy("doc_id").agg(
        F.array_join(ordered, "\n").alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def remove_frequent_lines_by_site(docs: DataFrame, min_df: int = 3,
                                  min_ratio_pct: int = 50) -> DataFrame:
    """Per-site frequent-line removal (the RefinedWeb / MassiveWeb
    line-level filter, public — Penedo et al. 2023 §G.2.2: lines
    "repeated across many documents of the same domain" are navigation
    chrome for THAT domain, even when globally rare): a line is banned
    within site S iff it appears in >= ``min_df`` distinct documents of
    S AND in >= ``min_ratio_pct`` percent of S's documents.  A footer
    shared by every page of a 10-doc blog is removed from the blog yet
    survives in the one syndicated copy on another site — the global
    variant (:func:`remove_frequent_lines`) cannot express that.

    Returns (id, site, clean_text, n_kept); documents whose every line
    was site-boilerplate are absent.

    Scale shape (mirrors the global variant; one extra TINY aggregate):
      1. per-(site, line-hash) document frequency with map-side partial
         agg over distinct (site, h, doc) triples;
      2. per-site doc counts — |sites| rows, broadcast;
      3. the ratio test is exact integer arithmetic
         (df * 100 >= pct * site_docs): no float drift vs the oracle;
      4. banned (site, h) pairs are few IN KIND per site, so the
         removal is a broadcast anti-join on (site, h) inside the line
         scan — the full line set never shuffles for the join;
      5. one groupBy(doc) reassembles, order carried by the exploded
         position, never partition order.
    """
    lines = docs.select(
        F.col("doc_id"), F.col("site"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    site_docs = (docs.groupBy("site")
                 .agg(F.countDistinct("doc_id").alias("site_docs")))
    df_counts = (lines.select("site", "h", "doc_id").distinct()
                 .groupBy("site", "h").agg(F.count(F.lit(1)).alias("df")))
    banned = (df_counts
              .join(F.broadcast(site_docs), "site")
              .filter((F.col("df") >= min_df)
                      & (F.col("df") * 100
                         >= F.lit(min_ratio_pct) * F.col("site_docs")))
              .select("site", "h"))
    kept = lines.join(F.broadcast(banned), ["site", "h"], "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "line"))),
        lambda s: s["line"])
    return kept.groupBy("doc_id", "site").agg(
        F.array_join(ordered, "\n").alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
