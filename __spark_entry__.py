"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over sf0.001 corpus + golden
fixture docs. ``queries()``/``oracle_sql()`` — one entry per operator
family from SURVEY.md §2 plus the training-data pipeline operators
(dedup / similarity / text analytics); every Spark query has a DuckDB
twin (the nested span extraction's twins read committed golden
parquet).  A CTE chain that several twins share is written once, in
the oracle building blocks above ``oracle_sql``.

Cross-engine determinism rules used throughout (see
rca_pdf_extraction_pipeline_spark/functions/*):
  * all hashes derive from md5 (both engines agree bit-for-bit);
  * vector math is double-precision left-to-right accumulation;
  * floats in outputs are rounded; top-k always has a unique tie-break;
  * timestamps are compared via wall-clock ``timestampdiff`` against a
    fixed NTZ epoch — no session-timezone dependence.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rca_pdf_extraction_pipeline_spark.config import GOLDEN_EXTRACTED_HEADERS
from rca_pdf_extraction_pipeline_spark.functions import classify_expr
from rca_pdf_extraction_pipeline_spark.functions import hashing as H
from rca_pdf_extraction_pipeline_spark.functions import text as textfns
from rca_pdf_extraction_pipeline_spark.operators import (
    asof,
    boilerplate,
    bpe,
    chunking,
    consolidate,
    curation,
    dedup,
    embedding,
    extraction,
    htmlparse,
    interleaved,
    intervaljoin,
    metadata,
    multimodal,
    profiling,
    readingorder,
    sampling,
    search,
    sessions,
    sketches,
    similarity,
    skew,
    substring_dedup,
    tablegrid,
    textanalysis,
    urls,
)
from rca_pdf_extraction_pipeline_spark.sources import fixtures

GOLDEN = REPO / "rca_pdf_extraction_pipeline_spark" / "golden"

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _ensure_shipped(spark: SparkSession) -> None:
    """The driver supplies its own SparkSession; make sure executors'
    Python workers can import the package regardless of the driver's
    cwd/PYTHONPATH (idempotent addPyFile of the package zip)."""
    try:
        from rca_pdf_extraction_pipeline_spark.session import ship_package

        ship_package(spark)
    except Exception:
        pass  # already shipped / zip path unavailable — import may still work


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # the testdata files are single-row-group parquet (unsplittable),
        # so CPU-heavy per-document ops (md5 shingling, cascades) would
        # run single-task; round-robin them across cores. On a cluster
        # the input arrives as many splits and this is a no-op choice.
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def _fixture_docs(spark: SparkSession) -> DataFrame:
    _ensure_shipped(spark)
    docs = [fixtures.build_golden_doc()] + fixtures.build_parser_branch_docs()
    return fixtures.docs_to_spark(spark, docs)


def _golden_doc(spark: SparkSession) -> DataFrame:
    _ensure_shipped(spark)
    return fixtures.docs_to_spark(spark, [fixtures.build_golden_doc()])


#: deterministic keyword injection so the C1 cascade exercises every
#: branch on the synthetic corpus — mirrored verbatim in the oracle SQL
def _page_text_col() -> F.Column:
    d = F.col("doc_id") % 11
    inj = (
        F.when(d == 0, F.lit(" SUMMARY OF ROUTINE CORE ANALYSES RESULTS"))
        .when(d == 1, F.lit(" PROFILE PLOT"))
        .when(d == 2, F.lit(" Permeability Porosity Core Number data"))
        .when(d == 3, F.lit(" TABLE OF CONTENTS"))
        .when(d == 4, F.lit(" CROSS PLOT VERSUS POROSITY"))
        .when(d == 5, F.lit(" Core Number Sample Number Permeability Porosity ROUTINE CORE ANALYSIS"))
        .otherwise(F.lit(""))
    )
    return F.when(d == 6, F.substring(F.col("text"), 1, 20)) \
            .otherwise(F.concat(F.col("text"), inj))


_SQL_PAGE_TEXT = """
    CASE WHEN doc_id % 11 = 6 THEN substr(text, 1, 20)
         ELSE text || CASE doc_id % 11
            WHEN 0 THEN ' SUMMARY OF ROUTINE CORE ANALYSES RESULTS'
            WHEN 1 THEN ' PROFILE PLOT'
            WHEN 2 THEN ' Permeability Porosity Core Number data'
            WHEN 3 THEN ' TABLE OF CONTENTS'
            WHEN 4 THEN ' CROSS PLOT VERSUS POROSITY'
            WHEN 5 THEN ' Core Number Sample Number Permeability Porosity ROUTINE CORE ANALYSIS'
            ELSE '' END
    END"""

_SQL_SCORE = """
    (CASE WHEN contains(upper(page_text), 'SUMMARY OF ROUTINE CORE ANALYSES') THEN 1 ELSE 0 END
   + CASE WHEN contains(upper(page_text), 'ROUTINE CORE ANALYSIS') THEN 1 ELSE 0 END
   + CASE WHEN contains(upper(page_text), 'CORE NUMBER') THEN 1 ELSE 0 END
   + CASE WHEN contains(upper(page_text), 'SAMPLE NUMBER') THEN 1 ELSE 0 END
   + CASE WHEN contains(upper(page_text), 'PERMEABILITY') THEN 1 ELSE 0 END
   + CASE WHEN contains(upper(page_text), 'POROSITY') THEN 1 ELSE 0 END)"""

#: toks / distinct word-3-gram shingle set over documents.text —
#: the exact SQL twin of functions/text.shingle_set
_SQL_SHINGLE_BASE = """
base AS (
  SELECT *, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
),
sh AS (
  SELECT *, list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [text] END) AS shset
  FROM base
)"""

_SQL_MS = "datediff('millisecond', TIMESTAMP '2024-01-01 00:00:00', ts)"

#: synthetic 5-block DOM per document + Boilerpipe-style scoring —
#: exact SQL twin of operators/boilerplate.py over _dom_blocks()
_SQL_DOM_BLOCKS = """
blocks AS (
  SELECT doc_id, 0 AS idx, 'h1' AS tag, substr(text, 1, 20) AS btext,
         0 AS anchor_chars FROM documents
  UNION ALL SELECT doc_id, 1, 'nav', 'home about contact products links', 30
    FROM documents
  UNION ALL SELECT doc_id, 2, 'p', text, 0 FROM documents
  UNION ALL SELECT doc_id, 3, 'p', substr(text, 1, 18), 0 FROM documents
  UNION ALL SELECT doc_id, 4, 'footer', 'copyright 2024 all rights reserved', 12
    FROM documents
)"""

_SQL_DOM_SCORED = """
scored AS (
  SELECT doc_id, idx, btext, anchor_chars,
    (lower(tag) NOT IN ('nav','header','footer','aside','script','style','form','button')
     AND anchor_chars::DOUBLE / greatest(length(btext), 1) < 0.33
     AND len(list_filter(string_split(btext, ' '), t -> t != '')) >= 10) AS base,
    (lower(tag) NOT IN ('nav','header','footer','aside','script','style','form','button')
     AND anchor_chars::DOUBLE / greatest(length(btext), 1) < 0.33
     AND len(list_filter(string_split(btext, ' '), t -> t != '')) >= 3) AS weak
  FROM blocks),
sm AS (
  SELECT *,
    coalesce(lag(base) OVER (PARTITION BY doc_id ORDER BY idx), FALSE) AS prev_c,
    coalesce(lead(base) OVER (PARTITION BY doc_id ORDER BY idx), FALSE) AS next_c
  FROM scored)"""

#: DuckDB replay of operators/embedding.hashed_vector (dim=16): one md5
#: per token, bucket = h & 15, sign = 1 - 2*((h >> 4) & 1), signed
#: integer counts per coordinate, L2-normalized and rounded to 6 dp.
_HASHED_EMBED_CTES = """
            tk AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t != '') AS toks
                   FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
            hh AS (SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok),
            co AS (SELECT doc_id, (h & 15) AS b,
                     (1 - 2 * ((h >> 4) & 1)) AS s FROM hh),
            sums AS (SELECT doc_id, b, SUM(s)::BIGINT AS v
                     FROM co GROUP BY doc_id, b),
            dense AS (SELECT ids.doc_id, dims.b, coalesce(s.v, 0)::BIGINT AS v
                      FROM (SELECT DISTINCT doc_id FROM documents) ids
                      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) dims
                      LEFT JOIN sums s
                        ON s.doc_id = ids.doc_id AND s.b = dims.b),
            iv AS (SELECT doc_id, list(v ORDER BY b) AS ivec
                   FROM dense GROUP BY doc_id),
            emb AS (SELECT doc_id,
                      CASE WHEN sqrt(list_aggregate(list_transform(ivec,
                               x -> (x*x)::DOUBLE), 'sum')) > 0
                      THEN list_transform(ivec, x -> round(x::DOUBLE /
                             sqrt(list_aggregate(list_transform(ivec,
                               x -> (x*x)::DOUBLE), 'sum')), 6))
                      ELSE list_transform(ivec, x -> 0.0) END AS embedding
                    FROM iv)"""

_N_SIMHASH_BITS = 64
_SIGN_BUCKET_SQL = "(" + " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END" for i in range(8)
) + ")::BIGINT"


def _ms_col() -> F.Column:
    """Wall-clock millis since a fixed NTZ epoch — session-timezone-free
    (events.ts is parquet TIMESTAMP_NTZ in both engines)."""
    return F.expr(
        "timestampdiff(MILLISECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', "
        "cast(ts as timestamp_ntz))"
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end extraction over the sf0.001 corpus (wrapped
    into the interleaved (doc_id, spans) model) unioned with the golden
    fixture documents; returns the exploded output span sequences."""
    raw = _t(spark, "/root/testdata/sf0.001", "documents")
    wrapped = raw.select(
        F.concat(F.lit("corpus-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("1|"), F.col("text")).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    docs = skew.salted_repartition(wrapped.unionByName(_fixture_docs(spark)))
    out = extraction.extract_documents(docs)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )


# ---- extraction pipeline (golden-fixture oracles) -------------------------


def _q_extract_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = extraction.extract_documents(_fixture_docs(spark))
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )


def _q_classify_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extraction.classify_documents(_golden_doc(spark)).select("page", "page_type")


def _q_samples_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = extraction.extract_samples(_golden_doc(spark))
    cells = [c for c in s.columns
             if c not in ("doc_id", "page_number", "row_idx", "depth_feet_f",
                          "porosity_ambient_pct_f")]
    return s.select("row_idx", *cells,
                    F.col("page_number").cast("string").alias("page_number"))


def _q_headers_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extraction.extract_headers(_golden_doc(spark)).select("page", "col", "header")


def _q_h2_verify_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extraction.verify_headers_documents(_fixture_docs(spark))


def _q_c2_structural_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fixtures.docs_to_spark(spark, fixtures.build_classify_docs())
    return extraction.classify_documents_structural(docs)


def _q_table_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (reference table_extractor.py:59-120): ruled-grid inference on
    page 1, text-alignment fallback on page 2, no-table negative on page 3
    and on media-nosample."""
    _ensure_shipped(spark)
    docs = fixtures.docs_to_spark(spark, [
        fixtures.build_grid_doc(), fixtures.build_media_nosample_doc()])
    return tablegrid.extract_table_cells(docs)


def _q_table_consolidated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 -> P3 end-to-end: grid cells regrouped to nested tables, then
    the reference's header-similarity consolidation (table_extractor.py:
    136-189); arrays flattened for cross-engine hashing."""
    _ensure_shipped(spark)
    docs = fixtures.docs_to_spark(spark, [fixtures.build_grid_doc()])
    cons = consolidate.consolidate_documents(
        tablegrid.extract_tables_nested(docs))
    return (cons.select(
        "doc_id", F.array_join("headers", "|").alias("headers_joined"),
        "n_tables", "n_rows",
        F.posexplode("rows").alias("row_idx", "row"))
        .select("doc_id", "headers_joined", "n_tables", "n_rows", "row_idx",
                F.array_join("row", "|").alias("row_joined")))


def _q_f8_page_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (reference table_extractor.py:38-40): requested pages outside
    each doc's page range produce the reference's warning string."""
    return tablegrid.page_range_warnings(_fixture_docs(spark), [1, 39, 300])


def _q_a8_depth_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (reference main.py summary + core_analysis.py:991): min/max
    depth over the golden doc's decoded samples."""
    s = extraction.extract_samples(_golden_doc(spark))
    return s.agg(
        F.round(F.min("depth_feet_f"), 2).alias("min_depth"),
        F.round(F.max("depth_feet_f"), 2).alias("max_depth"),
        F.count(F.lit(1)).alias("n_samples"))


def _q_s5_doc_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (reference elementizer/extractor.py:62-76): doc-metadata pivot
    from kind='meta' spans."""
    _ensure_shipped(spark)
    docs = fixtures.docs_to_spark(spark, fixtures.build_metadata_docs())
    return metadata.extract_doc_metadata(docs)


def _q_span_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementizer search parity (reference database.py:299-319): LIKE
    '%needle%' with LIMIT over the documents corpus; deterministic order
    by doc_id before the limit."""
    d = _t(spark, sf_dir, "documents")
    return (d.filter(F.col("text").contains("the"))
            .select("doc_id",
                    F.expr("locate('the', text)").alias("pos"),
                    F.expr("substring(text, locate('the', text), 40)")
                     .alias("snippet"))
            .orderBy("doc_id").limit(100))


def _q_span_kind_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind element census over the FULL ElementType surface incl.
    path/curve/annotation (reference models.py:8-18; items payload per
    database.py:113-121): the corpus wrapped into interleaved spans with
    deterministic vector-art spans keyed on doc_id residues."""
    d = _t(spark, sf_dir, "documents")

    def span(kind: str, payload) -> F.Column:
        return F.struct(
            F.lit(kind).alias("kind"), payload.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"))

    def opt(cond, kind: str, payload) -> F.Column:
        return F.when(cond, span(kind, payload))

    spans = F.array(
        span("text", F.concat(F.lit("1|"), F.col("text"))),
        opt(F.col("doc_id") % 3 == 0, "path",
            F.lit("1,10,10,90,90|m 10 10;l 90 10;l 90 90;h")),
        opt(F.col("doc_id") % 5 == 0, "curve",
            F.lit("1,5,5,50,50|m 5 5;c 10 10 40 40 50 50")),
        opt(F.col("doc_id") % 7 == 0, "annotation",
            F.concat(F.lit("1,100,100,200,120|note "),
                     F.col("doc_id").cast("string"))),
        opt(F.col("doc_id") % 11 == 0, "line", F.lit("1,0,300,600,300|")),
    )
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.filter(spans, lambda s: s.isNotNull()).alias("spans"))
    return metadata.element_kind_census(docs)


#: deterministic messy-URL synthesis from the documents table — one
#: expression string valid in BOTH dialects (Spark SQL and DuckDB), so
#: the Spark query and its oracle build bit-identical inputs.  The mess
#: exercises every normalization rule: scheme/host case, www variants,
#: default vs non-default ports, trailing slash, tracking params,
#: fragments, and path collisions (doc_id % 140 — 140 = lcm(4,5,7) so
#: ids 140 apart share scheme-class/slash/host residues and collide
#: after normalization; 10 | 140 keeps the apex domain aligned too).
#: The TLD is keyed on doc_id % 10 (preserved mod 140, so the collision
#: structure is unchanged) and mixes two-level public suffixes (.CO.UK /
#: .com.au / .co.jp / .gov.uk) in with .COM so the driver-checked domain
#: queries exercise the suffix-aware registered-domain rule end-to-end.
_URL_EXPR = """concat(
  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
       WHEN doc_id % 4 = 1 THEN 'https://www.'
       WHEN doc_id % 4 = 2 THEN 'http://' ELSE 'https://' END,
  'site', CAST(doc_id % 7 AS STRING),
  '.Ex', CAST(doc_id % 10 AS STRING),
  CASE WHEN doc_id % 10 = 0 THEN '.CO.UK'
       WHEN doc_id % 10 = 1 THEN '.com.au'
       WHEN doc_id % 10 = 2 THEN '.co.jp'
       WHEN doc_id % 10 = 3 THEN '.gov.uk'
       ELSE '.COM' END,
  CASE WHEN doc_id % 6 = 0 THEN ':443'
       WHEN doc_id % 6 = 1 THEN ':80' ELSE '' END,
  '/Articles/', CAST(doc_id % 140 AS STRING),
  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&x=1&gclid=abc'
       WHEN doc_id % 3 = 1 THEN '?x=1' ELSE '' END,
  CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)"""


#: the Spark-side suffix set, rendered as a SQL IN-list — ONE source of
#: truth (operators/urls.TWO_LEVEL_SUFFIXES) for both engines
_SQL_SUFFIX_LIST = ", ".join(f"'{s}'" for s in urls.TWO_LEVEL_SUFFIXES)

#: DuckDB twin of operators/urls.normalize_url + domain() over the same
#: synthesized urls — identical regexes, step for step (defrag ->
#: lowercase scheme/authority -> default-port strip -> tracking-param
#: filter -> empty-query / trailing-slash rules; apex takes THREE labels
#: when the last two are a two-level public suffix, else two).
_SQL_URL_CTES = f"""
u AS (SELECT doc_id, {_URL_EXPR} AS url FROM documents),
parts AS (
  SELECT doc_id, url,
         regexp_replace(url, '#.*$', '') AS defrag
  FROM u),
comp AS (
  SELECT doc_id, url,
    lower(regexp_extract(defrag, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
      AS scheme,
    lower(regexp_extract(defrag,
          '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1)) AS authority,
    regexp_extract(defrag,
          '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*(.*)$', 1) AS rest
  FROM parts),
norm AS (
  SELECT doc_id, url, scheme,
    CASE scheme WHEN 'http' THEN regexp_replace(authority, ':80$', '')
                WHEN 'https' THEN regexp_replace(authority, ':443$', '')
                ELSE authority END AS host,
    regexp_replace(regexp_replace(authority, ':\\d+$', ''),
                   '^www\\.', '') AS host_nowww,
    regexp_extract(rest, '^([^?]*)', 1) AS path,
    regexp_extract(rest, '^[^?]*\\?(.*)$', 1) AS query
  FROM comp),
n AS (
  SELECT doc_id, url,
    CASE WHEN scheme = '' THEN trim(url)
         ELSE scheme || '://' || host ||
              (CASE WHEN path = '/' THEN ''
                    ELSE regexp_replace(path, '/$', '') END) ||
              (CASE WHEN query = '' OR len(kept) = 0 THEN ''
                    ELSE '?' || array_to_string(kept, '&') END)
    END AS url_norm,
    CASE WHEN regexp_extract(host_nowww, '([^.]+\\.[^.]+)$', 1)
                IN ({_SQL_SUFFIX_LIST})
              AND regexp_extract(host_nowww,
                    '([^.]+\\.[^.]+\\.[^.]+)$', 1) != ''
         THEN regexp_extract(host_nowww, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
         ELSE regexp_extract(host_nowww, '([^.]+\\.[^.]+)$', 1)
    END AS apex_domain
  FROM (SELECT *, list_filter(string_split(query, '&'),
          p -> NOT regexp_matches(p,
            '^(utm_[a-z]+|fbclid|gclid|msclkid|ref|ref_src)=')
          AND p != '') AS kept
        FROM norm))"""


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rca_pdf_extraction_pipeline_spark.operators import urls  # noqa: F401

    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_EXPR).alias("url"))


def _q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rca_pdf_extraction_pipeline_spark.operators import urls

    d = _url_docs(spark, sf_dir)
    return (d.select("doc_id",
                     urls.normalize_url(F.col("url")).alias("url_norm"),
                     urls.domain(F.col("url")).alias("apex_domain"))
            .where(F.col("doc_id") < 400).orderBy("doc_id"))


def _q_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rca_pdf_extraction_pipeline_spark.operators import urls

    g = urls.url_duplicates(_url_docs(spark, sf_dir))
    return (g.select("url_norm", "n_docs", "keep_id",
                     F.array_join("dup_ids", ",").alias("dup_ids"))
            .orderBy("url_norm"))


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style category blocklist flags over the synthetic crawl: a
    tiny deterministic (domain, category) table blocks parent domains
    at two candidate levels, one domain carrying two categories."""
    from rca_pdf_extraction_pipeline_spark.operators import urls

    bl = spark.createDataFrame(
        [("ex9.com", "ads"), ("ex9.com", "malware"),
         ("ex1.com.au", "tracking"), ("site5.ex8.com", "adult")],
        "domain string, category string")
    return (urls.flag_blocked(_url_docs(spark, sf_dir), bl)
            .select("doc_id", "blocked",
                    F.array_join("categories", ",").alias("categories"))
            .where(F.col("doc_id") < 400).orderBy("doc_id"))


def _q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rca_pdf_extraction_pipeline_spark.operators import urls

    kept = urls.cap_per_domain(_url_docs(spark, sf_dir), max_docs=3)
    return kept.select("doc_id", "apex_domain", "domain_rank") \
               .orderBy("apex_domain", "domain_rank")


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rca_pdf_extraction_pipeline_spark.operators import urls

    return urls.domain_stats(_url_docs(spark, sf_dir))


#: fixed probe set for the suffix-aware registered-domain rule — the
#: collapse/distinction cases from the r3 verdict (bbc.co.uk family
#: collapses; amazon.co.uk stays distinct from amazon.com) plus the
#: edge hosts: a bare suffix host, a single-label host, a 4-label host.
_SUFFIX_DEMO_URLS: list[tuple[int, str]] = [
    (0, "https://bbc.co.uk/news"),
    (1, "https://news.bbc.co.uk/world"),
    (2, "http://WWW.BBC.CO.UK/sport"),
    (3, "https://amazon.co.uk/dp/1"),
    (4, "https://www.amazon.com/dp/1"),
    (5, "https://smile.amazon.com/dp/2"),
    (6, "https://shop.example.com.au/x"),
    (7, "https://example.com.au"),
    (8, "https://data.gov.uk/dataset"),
    (9, "https://www.example.org/a"),
    (10, "https://sub.deep.example.co.jp/x"),
    (11, "https://co.uk/"),
    (12, "https://localhost:8080/x"),
]


def _q_url_suffix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain extraction over the fixed probe set — exercises
    operators/urls.domain()'s public-suffix rule directly (sf_dir unused:
    the probe set IS the contract)."""
    d = spark.createDataFrame(_SUFFIX_DEMO_URLS, "doc_id long, url string")
    return d.select("doc_id", "url",
                    urls.domain(F.col("url")).alias("apex_domain")) \
            .orderBy("doc_id")


#: PSL-snapshot probe set: 3-level registry (act.edu.au), private
#: suffix (github.io), longest-match precedence, default-rule fallback
#: and bare-suffix hosts — the cases the static TWO_LEVEL_SUFFIXES
#: subset cannot express (operators/urls.with_apex_domain).
_PSL_DEMO_URLS: list[tuple[int, str]] = [
    (0, "https://www.education.act.edu.au/school"),
    (1, "https://someschool.act.edu.au/"),
    (2, "https://user.github.io/repo"),
    (3, "https://github.io/"),
    (4, "https://news.bbc.co.uk/x"),
    (5, "https://www.amazon.com/x"),
    (6, "https://edu.au/"),
    (7, "https://deep.sub.example.github.io/"),
]

_PSL_DEMO_SUFFIXES: tuple[str, ...] = ("co.uk", "edu.au", "act.edu.au",
                                       "github.io")


def _q_url_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered domains under a PSL snapshot table (broadcast
    longest-suffix-match join): the production path where the full
    publicsuffix.org list drops in as data, no code changes (sf_dir
    unused: the probe set IS the contract)."""
    from rca_pdf_extraction_pipeline_spark.operators import urls

    d = spark.createDataFrame(_PSL_DEMO_URLS, "doc_id long, url string")
    sfx = spark.createDataFrame([(s,) for s in _PSL_DEMO_SUFFIXES],
                                "suffix string")
    return (urls.with_apex_domain(d, suffixes=sfx)
            .select("doc_id", "url", "apex_domain").orderBy("doc_id"))


def _q_dedup_corpus_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dedup.deduplicate_corpus_cc(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", "source", "n_chars")


def _q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(_t(spark, sf_dir, "documents"))


def _q_dedup_corpus_cc_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dedup.deduplicate_corpus_cc_best(_t(spark, sf_dir, "documents"),
                                         score_col="n_chars")
    return d.select("doc_id", "lang", "source", "n_chars")


def _q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.epoch_shards(_t(spark, sf_dir, "documents"),
                                 n_shards=8, epoch=1)


# ---- relational operator parity over the TPC-H-ish tables -----------------


def _q_a0_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _q_j1_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cond = c["c_custkey"] == o["o_custkey"]
    semi = c.join(o, cond, "left_semi").agg(F.count(F.lit(1)).alias("n_customers")) \
            .select(F.lit("with_orders").alias("kind"), "n_customers")
    anti = c.join(o, cond, "left_anti").agg(F.count(F.lit(1)).alias("n_customers")) \
            .select(F.lit("without_orders").alias("kind"), "n_customers")
    return semi.unionByName(anti)


def _q_o3_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_totalprice")
             .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
             .limit(10))


def _q_j5_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 fuzzy matching, relational demo.  The crossJoin is over the
    DISTINCT p_type domain — a BOUNDED dictionary (150 values in TPC-H,
    fixed regardless of scale factor), so the quadratic pairing is
    O(150^2) constants, not O(N^2) rows; unbounded-domain fuzzy joins
    go through the blocked paths (dedup.jaccard_pairs / LSH) instead."""
    p = _t(spark, sf_dir, "part").select("p_type").distinct()
    a = p.select(F.col("p_type").alias("p_type_a"))
    b = p.select(F.col("p_type").alias("p_type_b"))
    lev = F.levenshtein(F.col("p_type_a"), F.col("p_type_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("p_type_a") < F.col("p_type_b"))
        .select("p_type_a", "p_type_b", lev.alias("lev"))
        .filter(F.col("lev") <= 8)
    )


# ---- window / sequence operators over events ------------------------------


def _w(ordered: bool = True) -> Window:
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def _q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event matched to the user's latest
    preceding view event (point-in-time attribution)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id", F.col("value").alias("click_value"))
    views = e.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("view_event_id"),
                F.col("value").alias("view_value"))
    j = asof.asof_join(clicks, views, on="user_id",
                       right_cols=["view_event_id", "view_value"],
                       prefix="m_")
    return j.select(
        "user_id", "event_id", "click_value",
        F.expr("timestampdiff(MICROSECOND, m_ts, ts)").alias("us_since_view"),
        F.col("m_view_event_id").alias("view_event_id"),
        F.col("m_view_value").alias("view_value"),
    )


def _q_w1_lead_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _w()
    return (
        ev.withColumn("t1", F.lead("event_type", 1).over(w))
        .withColumn("t2", F.lead("event_type", 2).over(w))
        .filter((F.col("event_type") == "view") & (F.col("t1") == "click")
                & (F.col("t2") == "purchase"))
        .select("user_id", "event_id")
    )


def _q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via native
    session_window; timestamps projected as ms offsets from a fixed
    NTZ epoch for cross-engine comparison."""
    s = sessions.sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)

    def ms(col: str) -> F.Column:
        return F.expr(
            f"timestampdiff(MILLISECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', "
            f"cast({col} as timestamp_ntz))")

    return s.select("user_id",
                    ms("session_start").alias("start_ms"),
                    ms("session_end").alias("end_ms"),
                    "n_events", "total_value")


def _q_w2_cumsum_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sess = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(_w())
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


def _q_w3_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    rn = F.row_number().over(_w())
    return (ev.withColumn("order_rank", rn)
              .filter(F.col("order_rank") <= 3)
              .select("user_id", "order_rank", "event_id"))


def _q_a1_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        " ",
    )
    return ev.groupBy("user_id").agg(seq.alias("event_seq"))


def _q_a7_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("ms", _ms_col())
    g = (ev.withColumn("gap", F.col("ms") - F.lag("ms", 1).over(_w()))
           .filter(F.col("gap").isNotNull()))
    g2 = g.withColumn("avg_gap", F.avg("gap").over(Window.partitionBy("user_id")))
    regular = F.when(
        (F.col("gap") >= 0.5 * F.col("avg_gap")) & (F.col("gap") <= 1.5 * F.col("avg_gap")),
        1.0,
    ).otherwise(0.0)
    return g2.groupBy("user_id").agg(
        F.round(F.avg("gap"), 4).alias("mean_gap_ms"),
        F.round(F.avg(regular), 6).alias("regular_share"),
    )


def _q_f3_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.filter(F.col("value").between(5, 50))
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 2).alias("sum_value")))


# ---- classification + scalar functions over documents ---------------------


def _q_c1_keyword_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").withColumn("page_text", _page_text_col())
    cls = classify_expr.keyword_cascade(F.col("page_text"))
    return d.select("doc_id", cls.alias("c")).select(
        "doc_id", "c.page_type", "c.confidence", "c.reason"
    )


def _q_a5_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").withColumn("page_text", _page_text_col())
    return d.select(
        "doc_id", classify_expr.table_keyword_score(F.col("page_text")).alias("kw_score")
    )


def _q_x_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    messy = F.concat(F.lit("  "), F.substring("text", 1, 15), F.lit("   "),
                     F.substring("text", 16, 15), F.lit("  "))
    sample_id = F.concat(
        (F.col("doc_id") % 30 + 1).cast("string"), F.lit("-"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("(f)"))
         .when(F.col("doc_id") % 3 == 1, F.lit("(F)"))
         .otherwise(F.lit("")),
    )
    risky = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("=SUM(A1)"))
        .when(F.col("doc_id") % 6 == 1, F.lit("+"))
        .when(F.col("doc_id") % 6 == 2, F.lit("-1"))
        .when(F.col("doc_id") % 6 == 3, F.lit("@cmd"))
        .when(F.col("doc_id") % 6 == 4, F.lit("<0.0001"))
        .otherwise(F.lit("plain"))
    )
    sanitized = (
        F.when(risky.isin("+", "**", "-", "<0.0001", "<"), risky)
        .when(F.substring(risky, 1, 1).isin("=", "+", "-", "@"),
              F.concat(F.lit("'"), risky))
        .otherwise(risky)
    )
    depth_str = F.concat(
        (F.col("doc_id") % 9 + 1).cast("string"), F.lit(","),
        F.lpad(((F.col("doc_id") * 37) % 1000).cast("string"), 3, "0"), F.lit("."),
        F.lpad(((F.col("doc_id") * 13) % 100).cast("string"), 2, "0"),
    )
    return d.select(
        "doc_id",
        F.trim(F.regexp_replace(messy, r"\s+", " ")).alias("norm_text"),
        F.upper(F.substring("text", 1, 20)).alias("upper_text"),
        F.expr("trim(TRAILING ',' FROM substr(text, 1, 10) || ',,')").alias("rtrim_comma"),
        F.regexp_extract(sample_id, r"\((f|F)\)$", 1).alias("fracture"),
        sanitized.alias("sanitized"),
        depth_str.alias("depth_str"),
        F.regexp_replace(depth_str, ",", "").cast("double").alias("depth_val"),
    )


# ---- dedup family over documents ------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"), prefix_len=32)


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global keep-first paragraph dedup (MassiveText/RefinedWeb
    exact line dedup): each doc becomes three paragraphs — first-half
    words, a shared NEWSLETTER line for doc_id%3==0, second-half words
    — so the shared line survives only in the minimal such doc and
    exact-dup documents keep only the first copy of their halves."""
    from rca_pdf_extraction_pipeline_spark.functions import text as T
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", T.tokens(F.col("text")).alias("w"))
    half = (F.size("w") / 2).cast("int")
    wrapped = w.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.array_join(F.slice(F.col("w"), F.lit(1), half), " "),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("SUBSCRIBE TO OUR NEWSLETTER")),
            F.array_join(F.slice(F.col("w"), half + 1,
                                 F.size("w") - half), " "),
        ).alias("text"))
    return dedup.dedup_paragraphs(wrapped).orderBy("doc_id")


def _q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup: exact-duplicate groups over the normalized
    text (casefold + punctuation strip + whitespace collapse) — catches
    case/punctuation variants plain exact dedup misses."""
    from rca_pdf_extraction_pipeline_spark.functions.text import (
        normalize_for_dedup,
    )
    d = _t(spark, sf_dir, "documents")
    # deterministic case/punct variants of the 40 lowest-id docs: the
    # corpus has no organic ones, so synthesize UPPER + '!!' twins that
    # ONLY normalization can collapse back onto their originals
    variants = (d.filter(F.col("doc_id") < 40)
                .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                        F.concat(F.upper(F.col("text")), F.lit(" !!"))
                        .alias("text")))
    u = d.select("doc_id", "text").unionByName(variants)
    return dedup.exact_duplicates(
        u.withColumn("text", normalize_for_dedup(F.col("text"))))


def _q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(_t(spark, sf_dir, "documents"))


def _q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").withColumn("blk", F.floor(F.col("n_chars") / 100))
    return dedup.jaccard_pairs(d, block_keys=["lang", "blk"], threshold=0.8)


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_t(spark, sf_dir, "documents"))


def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dedup.deduplicate_corpus(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", "source", "n_chars")


def _q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_pairs(_t(spark, sf_dir, "embeddings"))


# ---- similarity search over embeddings ------------------------------------


def _q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def _q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.bucket_histogram(_t(spark, sf_dir, "embeddings"), n_bits=8)


def _q_sim_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.bucketed_topk(_t(spark, sf_dir, "embeddings"), query_id=0)


def _q_ann_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained centroids, flattened to scalar (cid, dim, cv_val) rows so
    the external correctness gate can canonicalize (its pandas sorter
    cannot factorize array columns)."""
    cents = similarity.kmeans_centroids(_t(spark, sf_dir, "embeddings"),
                                        k=4, iters=2)
    return cents.select("cid", F.posexplode("cv").alias("dim", "cv_val"))


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"), query_id=0)


def _q_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose codebook is trained on a deterministic 50% hash-
    sample (production shape: Lloyd rounds touch the sample only; the
    full corpus is scanned exactly once, for assignment)."""
    return similarity.ivf_topk_sampled(_t(spark, sf_dir, "embeddings"),
                                       query_id=0)


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the trained-IVF search (4 cells, nprobe 2) against
    the exact brute-force neighbor set — the measure-don't-guess
    diagnostic run before committing an ANN index configuration;
    integer micro-lattice recall, bit-identical in both engines."""
    embs = _t(spark, sf_dir, "embeddings")
    return similarity.recall_at_k(
        similarity.cosine_topk(embs, query_id=0, k=10),
        similarity.ivf_topk(embs, query_id=0), 10)


def _q_sim_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.bucketed_topk_multiprobe(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, n_bits=8, nprobe=4)


def _q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: every vector as m=4 codebook ids —
    scalar (vec_id, sub, code) rows (the stored representation PQ search
    scans instead of raw vectors)."""
    return similarity.pq_codes(_t(spark, sf_dir, "embeddings"),
                               m=4, k=4, iters=2, dim=64)


def _q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC product-quantization top-10 for query vector 0: approximate
    squared distance = sum of per-subspace exact lattice distances from
    the query subvector to each vector's assigned codeword."""
    return similarity.pq_topk(_t(spark, sf_dir, "embeddings"), query_id=0)


def _q_ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-10 for query vector 0 (Jégou et al., TPAMI'11 §IV):
    probe the nprobe=2 coarse cells nearest the query, ADC-rank the PQ
    codes of the probed cells only — the composition of the IVF and PQ
    families that a 10^12-vector serving index actually runs (the code
    scan is pruned by the probed-cid join; stored-index mode prunes
    whole files, tests/test_jobs_index.py pins the DPP plan)."""
    return similarity.ivfadc_topk(_t(spark, sf_dir, "embeddings"), query_id=0)


def _q_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN JOIN: top-5 cosine neighbors for EVERY query in a
    deterministic 5-vector batch (vec_id % 100 == 0) — the many-queries
    retrieval shape (RAG dataset construction, SemDeDup assignment)
    where one-query-per-plan search would launch a job per row.
    IVF-blocked: corpus assigned once to the 4 trained cells, each
    query probes its 2 nearest cells, cosine ranked inside (query,
    cell) candidates only; the per-query top-k is a rank-limit window
    Spark rewrites to WindowGroupLimit (per-partition top-k BEFORE the
    exchange)."""
    embs = _t(spark, sf_dir, "embeddings")
    return similarity.knn_join(embs.filter("vec_id % 100 = 0"), embs)


def _q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN: top-10 by asymmetric L2 between the
    full-precision lattice query and the midpoint-reconstructed int8
    corpus codes (per-dim min-max, code = ((v-mn)*255)//(mx-mn)) — the
    training-free 4-8x index shrink next to PQ's trained codebooks; the
    scan reads only the code column."""
    return similarity.sq8_topk(_t(spark, sf_dir, "embeddings"),
                               query_id=0, k=10)


def _q_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8 scalar-quantized search against the exact
    integer-lattice L2 brute force — the estimator-quality diagnostic
    for the SQ family (composes ann_sq8_topk with lattice_l2_topk the
    way ann_recall composes IVF with the cosine brute force)."""
    embs = _t(spark, sf_dir, "embeddings")
    return similarity.recall_at_k(
        similarity.lattice_l2_topk(embs, query_id=0, k=10),
        similarity.sq8_topk(embs, query_id=0, k=10), 10)


def _q_ann_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ top-10 for query vector 0: probe the nprobe=2 coarse
    cells nearest the query, rank the midpoint-reconstructed int8 SQ
    codes of the probed cells only — the coarse-quantizer composition
    for the training-free scalar index, exactly as ann_ivfadc_topk
    composes IVF with PQ (the code scan is pruned by the probed-cid
    join; stored mode reads jobs/run_index.py's cid-partitioned
    sq8_codes and prunes whole files)."""
    return similarity.ivfsq_topk(_t(spark, sf_dir, "embeddings"), query_id=0)


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixture link graph over the documents table (the
    testdata carries no href column — same synthesis pattern as
    ``_url_docs``): every doc links to docs ``id // 2`` and ``id // 3``,
    self-loops dropped.  Low-id docs become hubs with a long-tailed
    in-degree distribution — the shape PageRank-style signals exist to
    measure.  The derivation is pure id arithmetic so the DuckDB oracle
    reproduces the exact edge multiset at any scale factor."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = None
    for div in (2, 3):
        part = d.select(F.col("doc_id").alias("src"),
                        F.expr(f"doc_id div {div}").cast("long").alias("dst"))
        e = part if e is None else e.unionByName(part)
    return e.where(F.col("src") != F.col("dst"))


def _q_link_degree_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the link graph (isolated nodes counted at
    in_degree 0) — the crawl-frontier shape diagnostic."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    return linkgraph.degree_census(nodes, _link_edges(spark, sf_dir))


def _q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 nodes by integer-lattice PageRank (2 unrolled iterations,
    damping 17/20, exact integer arithmetic — bit-identical across
    engines; ties broken by ascending node id)."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    pr = linkgraph.pagerank(nodes, _link_edges(spark, sf_dir), iters=2)
    return pr.orderBy(F.col("pr").desc(), F.col("node_id").asc()).limit(30)


def _q_link_pagerank_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution: out-linkless nodes'
    rank is returned uniformly each iteration (one broadcast integer
    scalar — exact lattice arithmetic preserved), so ranks approximate
    a conserved distribution instead of the leaky curation variant."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    pr = linkgraph.pagerank(nodes, _link_edges(spark, sf_dir), iters=2,
                            redistribute_dangling=True)
    return pr.orderBy(F.col("pr").desc(), F.col("node_id").asc()).limit(30)


def _q_link_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-30 PageRank, but over an edge table PERSISTED
    BUCKETED BY src (plans/bucketing.py) — the module docstring's own
    prescription for the 10^12-edge shape: the per-iteration rank-carry
    join and the out-degree aggregate both consume the prepaid bucket
    layout, so each iteration plans one fewer Exchange than the
    unbucketed twin (pinned by tests/test_plan_hygiene.py) while
    returning the identical rows (same oracle as link_pagerank)."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph
    from rca_pdf_extraction_pipeline_spark.plans import bucketing

    spark.sql("CREATE DATABASE IF NOT EXISTS entry_bk")
    # purge BOTH the catalog entry and any orphaned managed-table dir a
    # previous session left behind (saveAsTable refuses to adopt an
    # existing location); cleanup must precede the write because the
    # returned plan reads the table lazily
    spark.sql("DROP TABLE IF EXISTS entry_bk.link_edges")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/entry_bk.db/link_edges", ignore_errors=True)
    bucketing.write_bucketed(_link_edges(spark, sf_dir),
                             "entry_bk.link_edges", "src", 8)
    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    pr = linkgraph.pagerank(nodes, spark.table("entry_bk.link_edges"),
                            iters=2)
    return pr.orderBy(F.col("pr").desc(), F.col("node_id").asc()).limit(30)


def _q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 nodes by triangle participation over the fixture link
    graph — degree-oriented wedge closing (Schank & Wagner 2005: every
    triangle enumerated exactly once, at its lowest-(degree, id)
    vertex; oriented out-degree capped at O(sqrt(m)) so hubs never
    self-join on their full neighborhood).  The graph is the union of
    the hub-shaped link edges and the blocked chord edges — 100+
    triangles at sf0.01 versus 2 on the hub graph alone.  Ties by
    node id."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    edges = _link_edges(spark, sf_dir).unionByName(
        _component_edges(spark, sf_dir))
    tc = linkgraph.triangle_counts(edges)
    return tc.orderBy(F.col("n_triangles").desc(),
                      F.col("node_id").asc()).limit(30)


def _q_link_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 co-cited page pairs (Small 1973): destination pairs ranked
    by how many sources link to both — hub sources above the fan-out
    cap are dropped first, bounding the per-source pair expansion."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    cc = linkgraph.cocitation_pairs(_link_edges(spark, sf_dir),
                                    max_fanout=64)
    return cc.orderBy(F.col("n_common").desc(), F.col("a").asc(),
                      F.col("b").asc()).limit(30)


def _component_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic blocked chord graph for the CC query: doc ``i``
    links to one md5-chosen member of its 16-doc block, edges to ids
    past the table's end dropped (the last block is partial) — many
    small components with nontrivial internal structure, the shape
    min-label propagation exists to resolve.  Pure id arithmetic, so
    the DuckDB oracle reproduces the exact edge multiset."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = d.select(
        F.col("doc_id").alias("src"),
        (F.expr("(doc_id div 16) * 16")
         + H.hash32(F.concat(F.lit("cc:"), F.col("doc_id").cast("string")))
         % 16).alias("dst"))
    return (e.where(F.col("src") != F.col("dst"))
            .join(d.select(F.col("doc_id").alias("dst")), "dst", "left_semi"))


def _q_link_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the blocked chord graph — generic
    min-label connected components (the same Pregel-style loop the CC
    dedup family uses, over arbitrary edges) folded to
    (component_size, n_components)."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    labels = linkgraph.connected_components(
        nodes, _component_edges(spark, sf_dir))
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    return (sizes.groupBy(F.col("size").alias("component_size"))
            .agg(F.count(F.lit(1)).alias("n_components"))
            .orderBy("component_size"))


def _q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalance (XLM-R, alpha=0.5): the
    dominant language keeps the base rate, tail languages keep
    sqrt(n_max/n)-boosted rates — cuts computed from division + sqrt
    only, so both engines derive bit-identical thresholds."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    picked = sampling.temperature_sample(
        _t(spark, sf_dir, "documents"), alpha=0.5,
        base_rate=0.2, seed=0)
    return picked.select("doc_id", "lang", "n_chars")


def _q_link_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 nodes by local clustering coefficient (Watts & Strogatz;
    integer micro-lattice, exact floor division) over the same union
    graph as link_triangles — high coefficient = organic neighborhood,
    hub with near-zero coefficient = link farm."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    edges = _link_edges(spark, sf_dir).unionByName(
        _component_edges(spark, sf_dir))
    cc = linkgraph.clustering_coefficients(edges)
    return cc.orderBy(F.col("cc_micro").desc(),
                      F.col("node_id").asc()).limit(30)


def _q_link_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the doc_id%100==0 seed set (teleport
    mass lands only on seeds — TrustRank-style proximity scoring), two
    exact integer-lattice iterations; top-30 positive-rank nodes."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("node_id"))
    seeds = docs.where("doc_id % 100 = 0").select(
        F.col("doc_id").alias("node_id"))
    ppr = linkgraph.personalized_pagerank(
        nodes, _link_edges(spark, sf_dir), seeds, iters=2)
    return (ppr.where(F.col("pr") > 0)
            .orderBy(F.col("pr").desc(), F.col("node_id").asc()).limit(30))


def _q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized integer HITS (Kleinberg): two hub/authority sweeps
    over the fixture link graph — top-30 by (auth, hub, node_id).
    Exact integer walk counts, bit-identical in both engines."""
    from rca_pdf_extraction_pipeline_spark.operators import linkgraph

    nodes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"))
    hits = linkgraph.hits_scores(nodes, _link_edges(spark, sf_dir), iters=2)
    return hits.orderBy(F.col("auth").desc(), F.col("hub").desc(),
                        F.col("node_id").asc()).limit(30)


def _q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a self-trained multinomial Naive Bayes
    language classifier (Laplace smoothing, quantized-log integer
    scores) — the deterministic stand-in for the model-based quality/
    domain filters real pipelines run (GPT-3 LR filter, CCNet
    fastText)."""
    pred = textanalysis.nb_classify(_t(spark, sf_dir, "documents"))
    return (pred.groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("actual", "predicted"))


def _q_nb_holdout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold evaluation hygiene, end to end: leakage-safe split
    (near-dup components co-travel), NB model trained on the 'train'
    split ONLY, held-out 'test' split scored against it — confusion
    matrix.  Composes split_leakage_safe with nb_classify(train_docs=)."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    sp = sampling.leakage_safe_split(_t(spark, sf_dir, "documents"))
    train = sp.where("split = 'train'").drop("split")
    test = sp.where("split = 'test'").drop("split")
    pred = textanalysis.nb_classify(test, train_docs=train)
    return (pred.groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("actual", "predicted"))


def _q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val/test split: near-dup components
    co-travel (membership hashes the component LABEL, not the doc), so
    no near-duplicate pair ever straddles the train/test boundary."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling

    out = sampling.leakage_safe_split(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "split")


def _q_text_allpairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 document pairs by sparse tf-idf cosine (Bayardo-style
    all-pairs with a df-cap stop-term guard): exact integer dot on the
    quantized-idf micro-lattice, 6-dp cosine; ties by (id_a, id_b)."""
    from rca_pdf_extraction_pipeline_spark.operators import similarity

    pairs = similarity.sparse_cosine_pairs(_t(spark, sf_dir, "documents"),
                                           df_frac=0.1)
    return pairs.orderBy(F.col("cosine").desc(), F.col("id_a").asc(),
                         F.col("id_b").asc()).limit(30)


def _q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality diagnostic: every banded MinHash candidate
    pair scored with the signature-agreement Jaccard ESTIMATE next to
    the exact shingle-set Jaccard, both integer micro-lattice."""
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    est = dedup.minhash_estimate_pairs(_t(spark, sf_dir, "documents"))
    return est.orderBy("id_a", "id_b")


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary by total term frequency (ties by token)."""
    return textanalysis.vocabulary(_t(spark, sf_dir, "documents"), top_v=50)


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage / OOV rate of a top-100 vocabulary."""
    return textanalysis.vocab_coverage(_t(spark, sf_dir, "documents"), top_v=100)


def _q_text_embed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embeddings (one md5 per token, integer
    signed counts, L2-normalized), flattened to scalar (doc_id, dim,
    val) rows for the external gate's pandas canonicalizer."""
    embs = embedding.embed_documents(_t(spark, sf_dir, "documents"), dim=16)
    return embs.select("doc_id", F.posexplode("embedding").alias("dim", "val"))


def _q_text_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text -> vector -> ANN: top-10 cosine neighbors of
    doc 0 in the hashed-embedding space."""
    embs = embedding.embed_documents(_t(spark, sf_dir, "documents"), dim=16)
    return similarity.cosine_topk(embs, query_id=0, k=10, id_col="doc_id")


def _q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster near-duplicate pairs (trained k-means
    clusters, exact cosine gate)."""
    return similarity.semantic_near_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4)


def _q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivors: vectors with no lower-id semantic near-dup
    in their cluster."""
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4)


# ---- text analytics over documents ----------------------------------------


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style frequent-line removal: every doc gets a synthetic
    shared footer + nav line (df = corpus size, banned) around its own
    text (df small, kept) — the cleaned text must be exactly the
    original body unless the body itself repeats across >= min_df docs."""
    d = _t(spark, sf_dir, "documents")
    wrapped = d.select(
        "doc_id",
        F.concat_ws("\n", F.lit("HOME | ABOUT | CONTACT"), F.col("text"),
                    F.lit("(c) example.org - all rights reserved"))
         .alias("text"))
    return boilerplate.remove_frequent_lines(wrapped, min_df=5)


def _q_boilerplate_site_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style PER-SITE frequent-line removal (site = source):
    the shared nav line and the per-site footer hit 100% of each site's
    docs (banned), the SUBSCRIBE line rides only even doc_ids (~50% per
    site, above the 40% ratio gate -> banned), and each doc's own body
    stays (df 1 per site).  Exercises the ratio gate's exact integer
    arithmetic and the (site, h) anti-join."""
    d = _t(spark, sf_dir, "documents")
    wrapped = d.select(
        "doc_id", F.col("source").alias("site"),
        F.concat_ws(
            "\n",
            F.lit("HOME | ABOUT | CONTACT"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("SUBSCRIBE TO OUR NEWSLETTER")),
            F.col("text"),
            F.concat(F.lit("(c) "), F.col("source")),
        ).alias("text"))
    return boilerplate.remove_frequent_lines_by_site(
        wrapped, min_df=3, min_ratio_pct=40)


def _q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.token_stats(_t(spark, sf_dir, "documents"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.quality_scores(_t(spark, sf_dir, "documents"))


def _q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.language_id(_t(spark, sf_dir, "documents"))


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.fingerprints(_t(spark, sf_dir, "documents"))


def _q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints, exploded (doc_id, pos,
    gram_hash), on a deterministic 1-in-10 document slice — the slice
    keeps the oracle compare small; the operator itself is corpus-wide
    narrow work."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return textanalysis.winnow_fingerprints(docs)


def _q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.unigram_logprob(_t(spark, sf_dir, "documents"))


def _q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token budget vs whitespace word count."""
    return textanalysis.bpe_token_stats(_t(spark, sf_dir, "documents"))


def _q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM typicality (word-order-aware perplexity
    stand-in)."""
    return textanalysis.bigram_logprob(_t(spark, sf_dir, "documents"))


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.repetition_stats(_t(spark, sf_dir, "documents"))


#: deterministic contact-line suffix so the PII census has matches on a
#: corpus that contains none organically — same expression in the oracle
def _with_contacts(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or admin@example.org see http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.net/p"), F.col("doc_id").cast("string"),
        ))


def _q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.pii_stats(_with_contacts(_t(spark, sf_dir, "documents")))


def _q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark = the 10 lowest-id documents; corpus = the rest (the
    synthetic corpus's planted near-dups provide natural overlap)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    corpus = d.filter(F.col("doc_id") >= 10)
    return substring_dedup.contamination_report(corpus, bench)


def _q_substr_dup_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup.duplicated_ranges(_t(spark, sf_dir, "documents"))


def _q_substr_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup.duplication_profile(_t(spark, sf_dir, "documents"))


def _q_substr_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr removal step: every maximal cross-doc duplicated
    8-gram range cut from every document, survivors reassembled in
    token order (the rewrite substr_dup_ranges only reports)."""
    return substring_dedup.trim_duplicated_ranges(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


#: bag-of-words query for the BM25 demo — mid-frequency corpus terms
BM25_TERMS = ["table", "spark", "join", "query"]


def _q_curation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.curation_signals(_t(spark, sf_dir, "documents"))


def _q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.corpus_profile(_t(spark, sf_dir, "documents"))


def _q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profiling.histogram_quantiles(_t(spark, sf_dir, "documents"))


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odd-id docs arrive as the new batch; even-id docs are the already-
    indexed corpus whose band-key table (in production: stored parquet)
    is joined without recomputation."""
    docs = _t(spark, sf_dir, "documents")
    idx = dedup.minhash_band_keys(docs.filter(F.col("doc_id") % 2 == 0))
    return dedup.incremental_candidate_pairs(
        docs.filter(F.col("doc_id") % 2 == 1), idx)


def _q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.chunk_documents(_t(spark, sf_dir, "documents"),
                                    chunk_tokens=32, stride=24)


def _q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.pack_documents(_t(spark, sf_dir, "documents"))


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style pretraining sequence packing: the whole corpus as one
    id-ordered token stream cut into 128-token rows (documents split at
    boundaries, unlike pack_bins).  seq_text replaces the raw array in
    the oracle-compared projection (string_agg twin)."""
    from pyspark.sql import functions as F
    from rca_pdf_extraction_pipeline_spark.functions import text as T
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    return (chunking.pack_sequences(toks, seq_len=128)
            .select("seq_id", "n_tokens", "n_docs", "complete",
                    F.array_join("tokens", " ").alias("seq_text"))
            .orderBy("seq_id"))


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input for the interleaved family: the deterministic
    text+media lift of the documents corpus (input_hint spans shape,
    computational DuckDB twin — no golden artifact in the loop)."""
    return interleaved.synth_interleaved(_t(spark, sf_dir, "documents"))


def _span_rows(docs: DataFrame) -> DataFrame:
    """One (doc_id, offset, kind, text, media_ref) row per span of
    ``docs`` (doc_id, spans).  explode_outer + generated-column filter:
    plain explode's pushed pre-Generate filter re-evaluates a computed
    spans array 2x/row."""
    return (docs.select("doc_id", F.explode_outer("spans").alias("s"))
            .filter(F.col("s").isNotNull())
            .select("doc_id", F.col("s.offset").alias("offset"),
                    F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref")))


def _q_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded interleaved spans table: every (kind, text, media_ref,
    offset) row of the synthetic lift — pins the derivation rule
    itself (position arithmetic, chunk slicing, media naming) against
    the pure-SQL replay."""
    return _span_rows(_interleaved(spark, sf_dir))


def _q_interleaved_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-label captioning over the interleaved corpus: each media
    span paired with its nearest preceding text span (zero-shuffle
    aggregate fold; the oracle replays it as last_value IGNORE NULLS
    over the exploded spans)."""
    return interleaved.caption_pairs(_interleaved(spark, sf_dir))


def _q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing: 64-token budget, media spans cost
    16 vision tokens, spans never split, sequences never cross
    documents — one exchange total (window + reused agg clustering)."""
    return interleaved.pack_interleaved(
        _interleaved(spark, sf_dir), budget_tokens=64, media_cost=16)


def _q_interleaved_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-segmentation: runs of adjacent text spans merged into one
    paragraph span (DOM text-node coalescing at span granularity),
    offsets renumbered from the merge rule.  Fully narrow — one O(n)
    fold per doc, zero shuffle; exploded for the oracle compare."""
    return _span_rows(
        interleaved.merge_adjacent_text(_interleaved(spark, sf_dir)))


def _q_media_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style context pair building: every media span with the
    concat of its <=2 nearest preceding and following text spans in
    reading order.  Narrow per-doc array slicing — no self-join, no
    window; the only row amplification is the final pairs explode."""
    return interleaved.media_context(_interleaved(spark, sf_dir), k=2)


def _q_asset_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide media-asset reuse census over a 64-asset shared
    pool (hash-folded refs model CDN asset reuse across pages): per
    asset, embedding-document count, occurrences, offset extremes.
    One explode of the small media array + one hash aggregate."""
    return interleaved.asset_census(_interleaved(spark, sf_dir), pool=64)


def _q_asset_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-page dedup by media-asset SET signature (md5 of the
    sorted distinct 8-asset-pool refs): the asset-level analogue of
    exact text dedup.  Narrow signature, one 16-byte-key shuffle,
    keep-first by min(doc_id)."""
    return interleaved.asset_dedup_groups(_interleaved(spark, sf_dir),
                                          pool=8)


def _q_interleaved_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation flags over a deterministically perturbed
    interleaved corpus (hash bucket 0: text spans dropped -> media_only
    or empty; bucket 1: all but the first text span dropped ->
    media_heavy for docs with >=2 media spans): span-shape statistics
    plus caption coverage, all narrow array aggregates — a pure map."""
    inter = _interleaved(spark, sf_dir).filter(F.size("spans") > 0)
    b = H.hash32(F.concat(F.lit("iq:"), F.col("doc_id").cast("string"))) % 7
    spans = F.col("spans")
    not_text = lambda s: s["kind"] != F.lit("text")  # noqa: E731
    mod = inter.select(
        F.col("doc_id"),
        F.when(b == 0, F.filter(spans, not_text))
         .when(b == 1, F.filter(
             spans, lambda s: not_text(s) | (s["offset"] == 0)))
         .otherwise(spans).alias("spans"))
    return interleaved.interleaved_quality(mod)


def _q_span_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale extraction regression diff — the north-rule
    span-sequence-equality invariant as a distributed operator: two
    deterministic variants of the interleaved lift (the 'new run'
    drops ~5% of docs, gains ~4%, and appends two tokens to ~9% of
    texts) compared per document.  ONE full-outer doc_id join; the
    positional compare is fully narrow (array_sort + indexed F.get)."""
    docs = _t(spark, sf_dir, "documents")
    hv = H.hash32(F.concat(F.lit("sd:"), F.col("doc_id").cast("string")))
    left = docs.filter(hv % 23 != 3)
    right = (docs.filter(hv % 19 != 5)
             .withColumn("text",
                         F.when(hv % 11 == 1,
                                F.concat(F.col("text"), F.lit(" zz qq")))
                          .otherwise(F.col("text"))))
    return interleaved.span_diff(interleaved.synth_interleaved(left),
                                 interleaved.synth_interleaved(right))


def _q_layout_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column reading-order recovery audit: word boxes laid out
    in 1-2 newspaper columns per doc (deterministic synth), recovered
    by the x-projection column-cut sweep; one row per doc,
    n_in_order == n_boxes ⇔ the original token order was fully
    recovered.  One doc_id exchange (two windows + the report agg all
    reuse its partitioning)."""
    boxes = readingorder.synth_boxes(_t(spark, sf_dir, "documents"))
    return readingorder.reading_order_report(boxes)


def _q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component size histogram (singletons included) — the
    FineWeb/Dolma dedup-tuning diagnostic, over the same CC label
    loop as dedup_corpus_cc."""
    return dedup.cc_cluster_sizes(_t(spark, sf_dir, "documents"))


def _q_lm_score_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-form perplexity filter: unigram LM fit on the even-id
    half of the corpus (the stored reference snapshot), ALL documents
    scored against it — OOV tokens counted and floored at
    ln(1/(total+1)) without widening the token join."""
    docs = _t(spark, sf_dir, "documents")
    freqs = textanalysis.unigram_freqs(docs.filter(F.col("doc_id") % 2 == 0))
    return textanalysis.unigram_logprob_stored(docs, freqs)


def _q_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.source_report(_t(spark, sf_dir, "documents"))


def _q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.hash_sample(_t(spark, sf_dir, "documents"),
                                rate=0.1, seed=7) \
        .select("doc_id", "lang", "n_chars")


def _q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.train_val_test_split(
        _t(spark, sf_dir, "documents")).select("doc_id", "split")


def _q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.per_group_sample(
        _t(spark, sf_dir, "documents"), "lang", k=5, seed=11) \
        .select("doc_id", "lang")


def _q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling: 50 docs with probability proportional to
    n_chars (length-weighted subcorpus)."""
    return sampling.weighted_priority_sample(
        _t(spark, sf_dir, "documents"), "n_chars", k=50, seed=3) \
        .select("doc_id", "n_chars", F.round("priority", 4).alias("priority"))


def _q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture construction: ~40 docs from src0, ~20 from src1,
    everything from src2 (target above its size)."""
    return sampling.mixture_sample(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 40, "src1": 20, "src2": 10_000}, seed=5) \
        .select("doc_id", "source", "lang")


def _q_sample_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: ~3000 chars of src0, ~1500 of src1,
    everything of src2 (budget above its mass) — keep-rate =
    target_tokens / source_tokens, docs kept whole."""
    from rca_pdf_extraction_pipeline_spark.operators import sampling as S

    return S.token_mixture_sample(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 3_000, "src1": 1_500, "src2": 10_000_000}, seed=5) \
        .select("doc_id", "source", "n_chars")


def _q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS'23): the 25 non-src1
    documents that look most like the src1 domain under hashed-unigram
    importance weights, Gumbel-top-k resampled.  n_buckets=512 keeps
    real hash collisions in play at oracle scale."""
    return sampling.dsir_topk(_t(spark, sf_dir, "documents"), "src1",
                              k=25, n_buckets=512, seed=7)


def _q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report: treat the src1 slice as the NEW corpus
    drop and everything else as the OLD snapshot, and rank the 30
    hashed-vocab buckets (512-bucket DSIR idiom) whose probability
    moved most — integer-quantized log-ratio ordering, so ties and
    ranks are exact across engines."""
    docs = _t(spark, sf_dir, "documents")
    return profiling.corpus_drift(
        docs.filter(F.col("source") != "src1"),
        docs.filter(F.col("source") == "src1"),
        n_buckets=512, top_k=30)


BPE_MERGES = 10


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (Sennrich et al. 2016) over the corpus: 10
    merge rounds on the word-frequency table, deterministic argmax
    (count desc, pair asc).  The oracle replays every round via the
    wrapped-unit literal-replace formulation (operators/bpe.py module
    docstring) — greedy merge application IS non-overlapping string
    replace in both engines."""
    return bpe.bpe_train(_t(spark, sf_dir, "documents"),
                         n_merges=BPE_MERGES)


def _q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-tokenize composition: the 10 learned merges are
    collected (tiny artifact, like a broadcast dim) and applied as a
    literal replace chain; output is per-doc BPE token counts.  The
    oracle re-learns the same merges and counts units as pipe-pairs of
    the encoded string."""
    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe.bpe_train(docs, n_merges=BPE_MERGES).collect()]
    return (bpe.bpe_apply(docs, merges)
            .select("doc_id",
                    F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens")))


def _bpe_oracle_rounds(k: int) -> str:
    """CTE chain learning k BPE merges — v0 is the encoded word-freq
    table; each round is (pair counts, argmax, literal replace), all
    MATERIALIZED so the per-round tables evaluate once."""
    parts = [r"""v0 AS MATERIALIZED (
              SELECT word, COUNT(*)::BIGINT AS freq,
                     regexp_replace(word, '(.)', '|\1|', 'g')
                     || '|</w>|' AS enc
              FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                              t -> t != '')) AS word
                    FROM documents)
              WHERE regexp_matches(word, '^[!-~]+$')
                AND NOT contains(word, '|')
              GROUP BY word)"""]
    for i in range(1, k + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
              SELECT z[1] AS l, z[2] AS r, SUM(freq)::BIGINT AS cnt
              FROM (SELECT freq,
                           unnest(list_zip(u[1:len(u)-1], u[2:len(u)])) AS z
                    FROM (SELECT freq,
                                 string_split(trim(enc, '|'), '||') AS u
                          FROM v{i-1}))
              GROUP BY 1, 2)""")
        parts.append(f"""b{i} AS MATERIALIZED (
              SELECT l, r, cnt FROM p{i}
              ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""")
        parts.append(f"""v{i} AS MATERIALIZED (
              SELECT word, freq,
                     replace(enc,
                             '|' || (SELECT l FROM b{i}) || '||'
                                 || (SELECT r FROM b{i}) || '|',
                             '|' || (SELECT l FROM b{i})
                                 || (SELECT r FROM b{i}) || '|') AS enc
              FROM v{i-1})""")
    return ",\n            ".join(parts)


def _bpe_merges_oracle(k: int) -> str:
    union = "\n              UNION ALL ".join(
        f"SELECT {i}::INT AS rank, l AS \"left\", r AS \"right\", "
        f"cnt AS pair_count FROM b{i}" for i in range(1, k + 1))
    return f"""
            WITH {_bpe_oracle_rounds(k)}
            SELECT * FROM (
              {union})
            ORDER BY rank
        """


def _bpe_encoded_words(k: int) -> str:
    """The k learned merges (_bpe_oracle_rounds) applied to every corpus
    word: ``wenc`` (doc_id, source, enc) holds the encoded word, NULL
    for a word outside the byte-level alphabet (it counts as one
    token)."""
    chain = r"regexp_replace(w, '(.)', '|\1|', 'g') || '|</w>|'"
    for i in range(1, k + 1):
        chain = (f"replace({chain}, "
                 f"'|' || (SELECT l FROM b{i}) || '||' "
                 f"|| (SELECT r FROM b{i}) || '|', "
                 f"'|' || (SELECT l FROM b{i}) "
                 f"|| (SELECT r FROM b{i}) || '|')")
    return f"""{_bpe_oracle_rounds(k)},
            words AS (
              SELECT doc_id, source,
                     unnest(list_filter(string_split(text, ' '),
                                        t -> t != '')) AS w
              FROM documents),
            wenc AS (
              SELECT doc_id, source,
                     CASE WHEN regexp_matches(w, '^[!-~]+$')
                               AND NOT contains(w, '|')
                          THEN {chain}
                          ELSE NULL END AS enc
              FROM words)"""


#: BPE tokens of the ``wenc`` rows: units are pipe pairs
_SQL_BPE_TOKENS = """SUM(CASE WHEN enc IS NULL THEN 1
                            ELSE (length(enc)
                                  - length(replace(enc, '|', ''))) / 2
                       END)::BIGINT"""


def _bpe_token_stats_oracle(k: int) -> str:
    return f"""
            WITH {_bpe_encoded_words(k)}
            SELECT doc_id, {_SQL_BPE_TOKENS} AS n_bpe_tokens
            FROM wenc GROUP BY doc_id
        """


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the events table: users
    cohorted by first-event week (whole-day counts from a fixed NTZ
    epoch — the timestamp discipline from the sessions family), one
    (user, week) distinct as the only corpus-scale shuffle."""
    return sessions.cohort_retention(_t(spark, sf_dir, "events"))


def _q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU + trailing-7-day WAU: the rolling DISTINCT no native
    window computes — day-grid range join over the (user, day) distinct
    table."""
    return sessions.active_users(_t(spark, sf_dir, "events"))


def _q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over the events table (plans/layout.py —
    the Delta OPTIMIZE ZORDER analogue): interleave 8-bit codes of two
    independent dimensions into a Morton key, bucket rows by the key's
    top 6 bits (the 64 rectangles a range-partitioned layout writer
    would emit as files), and report each bucket's per-dimension
    min/max — the parquet-footer stats that make a predicate on EITHER
    dimension skip ~7/8 of the files.  Bucketing is by fixed key
    ranges, not partition ids, so the result is partition-invariant;
    the oracle replays the bit-interleave arithmetic in SQL."""
    from rca_pdf_extraction_pipeline_spark.plans import layout
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).cast("int").alias("x"),
        (F.col("event_id") % 256).cast("int").alias("y"))
    z = layout.zorder_key(["x", "y"], bits=8)
    return (ev.withColumn("zbucket", F.shiftright(z, 10).cast("int"))
            .groupBy("zbucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                 F.min("y").alias("y_min"), F.max("y").alias("y_max"))
            .orderBy("zbucket"))


def _q_embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign projection (Achlioptas 2003 database-friendly variant)
    of the first 40 embeddings onto 16 dims: integer-lattice sums over
    a content-addressed ±1 matrix — bit-exact in both engines,
    relational (vec_id, j, y) output."""
    embs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    return (similarity.project_embeddings(embs)
            .select(F.col("vec_id"), F.col("j").cast("long").alias("j"),
                    F.col("y").cast("long").alias("y")))


def _q_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of cosine top-k in the 16-dim PROJECTED space vs the
    exact 64-dim neighbor set — the measure-don't-guess check before
    committing a projection dimension; same diagnostic row shape as
    ann_recall."""
    embs = _t(spark, sf_dir, "embeddings")
    return similarity.recall_at_k(
        similarity.cosine_topk(embs, query_id=0, k=10),
        similarity.jl_topk(embs, query_id=0, k=10), 10)


def _q_vocab_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise language-vocabulary overlap via HLL inclusion-exclusion
    (|A ∩ B| ≈ |A| + |B| - |A ∪ B|, union = bucket-wise register max):
    the cross-source contamination signal at sketch cost — one token
    pass, no token join.  Every estimate is the integer-lattice HLL
    formula, replayed exactly in SQL."""
    return sketches.vocab_overlap_by_group(
        _t(spark, sf_dir, "documents"))


def _q_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class census (charset sanity: mis-decoded
    or mojibake drops show up as a collapsing letter share / spiking
    non-ASCII share).  Single-char regex classes count identically in
    both engines; non_ascii is the exhaustive remainder."""
    return textanalysis.charset_profile(_t(spark, sf_dir, "documents"))


def _q_corpus_drift_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving form of the drift report: both snapshots reduced to
    stored (bucket, n) count tables first (profiling.token_bucket_
    counts — the state a streaming monitor maintains), then scored via
    drift_from_counts.  Must equal corpus_drift over the same rows, so
    it shares that oracle verbatim."""
    docs = _t(spark, sf_dir, "documents")
    old = profiling.token_bucket_counts(
        docs.filter(F.col("source") != "src1"), n_buckets=512)
    new = profiling.token_bucket_counts(
        docs.filter(F.col("source") == "src1"), n_buckets=512)
    return profiling.drift_from_counts(old, new, n_buckets=512, top_k=30)


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source — the eval a pipeline publishes
    with every tokenizer drop (BPE tokens per whitespace word; rising
    fertility on one source = the merges stopped covering it): the 10
    learned merges are applied corpus-wide and token counts roll up per
    source next to the whitespace baseline."""
    from rca_pdf_extraction_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe.bpe_train(docs, n_merges=BPE_MERGES).collect()]
    toks = bpe.bpe_apply(docs, merges).select("doc_id", "n_bpe_tokens")
    base = docs.select("doc_id", "source",
                       T.n_tokens(F.col("text")).alias("_nw"))
    return (base.join(toks, "doc_id", "left")
            .groupBy("source")
            .agg(F.sum("_nw").cast("bigint").alias("n_words"),
                 F.sum(F.coalesce(F.col("n_bpe_tokens"), F.lit(0)))
                 .cast("bigint").alias("n_bpe_tokens"))
            .withColumn("fertility",
                        F.round(F.col("n_bpe_tokens")
                                / F.greatest("n_words", F.lit(1)), 6)))


def _bpe_fertility_oracle(k: int) -> str:
    return f"""
            WITH {_bpe_encoded_words(k)},
            per_src AS (
              SELECT source, COUNT(*)::BIGINT AS n_words,
                     {_SQL_BPE_TOKENS} AS n_bpe_tokens
              FROM wenc GROUP BY source)
            SELECT source, n_words, n_bpe_tokens,
                   round(n_bpe_tokens::DOUBLE
                         / GREATEST(n_words, 1)::DOUBLE, 6) AS fertility
            FROM per_src
        """


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_hash_sample(
        _t(spark, sf_dir, "documents"), "lang",
        rates={"en": 0.2, "de": 1.0}, default_rate=0.05, seed=3) \
        .select("doc_id", "lang")


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search.bm25_topk(_t(spark, sf_dir, "documents"), BM25_TERMS, k=20)


def _q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 + hashed-embedding cosine lists fused by
    reciprocal-rank fusion."""
    return search.hybrid_rrf_topk(_t(spark, sf_dir, "documents"),
                                  BM25_TERMS, query_doc=0, k=10)


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped posting lists for the 30 highest-df terms (df desc, term
    asc tie-break); cap of 8 makes truncation (postings_len < df)
    visible in the result."""
    idx = search.inverted_index(_t(spark, sf_dir, "documents"),
                                min_df=5, max_postings=8)
    return idx.orderBy(F.col("df").desc(), F.col("term").asc()).limit(30)


def _q_source_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source subcorpus by tf-idf."""
    return profiling.source_tfidf_terms(_t(spark, sf_dir, "documents"),
                                        top_k=5)


def _q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-token estimate per language,
    next to the exact count (sketch correctness made visible)."""
    return sketches.distinct_tokens_by_group(_t(spark, sf_dir, "documents"))


def _q_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-centroid population + exact integer inertia over the trained
    k-means quantizer (corpus map of embedding space)."""
    return similarity.cluster_profile(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token frequencies vs exact counts (sketch is an
    upper bound; equality where no bucket collisions)."""
    return sketches.token_counts_with_cms(_t(spark, sf_dir, "documents"))


# ---- HTML boilerplate stripping (north_rule; synthetic DOM blocks) --------


def _dom_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-block DOM per document: heading, link-dense nav,
    main paragraph, short trailing paragraph (neighbour rule), footer."""
    d = _t(spark, sf_dir, "documents")
    blocks = F.array(
        F.struct(F.lit(0).alias("idx"), F.lit("h1").alias("tag"),
                 F.substring("text", 1, 20).alias("btext"),
                 F.lit(0).alias("anchor_chars")),
        F.struct(F.lit(1).alias("idx"), F.lit("nav").alias("tag"),
                 F.lit("home about contact products links").alias("btext"),
                 F.lit(30).alias("anchor_chars")),
        F.struct(F.lit(2).alias("idx"), F.lit("p").alias("tag"),
                 F.col("text").alias("btext"), F.lit(0).alias("anchor_chars")),
        F.struct(F.lit(3).alias("idx"), F.lit("p").alias("tag"),
                 F.substring("text", 1, 18).alias("btext"),
                 F.lit(0).alias("anchor_chars")),
        F.struct(F.lit(4).alias("idx"), F.lit("footer").alias("tag"),
                 F.lit("copyright 2024 all rights reserved").alias("btext"),
                 F.lit(12).alias("anchor_chars")),
    )
    return (d.select("doc_id", F.explode(blocks).alias("b"))
             .select("doc_id", "b.idx", "b.tag",
                     F.col("b.btext").alias("text"), "b.anchor_chars"))


def _q_html_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate.extract_main_text(_dom_blocks(spark, sf_dir))


def _q_html_block_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate.score_blocks(_dom_blocks(spark, sf_dir)) \
        .select("doc_id", "idx", "n_words", "link_density", "is_content")


# ---- multimodal columns ----------------------------------------------------


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
             .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video"))
    return d.select(
        F.format_string("media-%05d", F.col("doc_id")).alias("media_ref"),
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 32).cast("int").alias("height"),
        ((F.col("doc_id") % 120 + 1) * 1000).cast("int").alias("duration_ms"),
    )


def _q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_stats(_media_table(spark, sf_dir))


def _media_ids(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id) below ``n``: the id column every media fixture is built
    from."""
    return _t(spark, sf_dir, "documents").select("doc_id") \
        .filter(F.col("doc_id") < n)


def _q_multimodal_decode(synth):
    """REAL decode round-trip of one codec: solid-color images built per
    doc_id by ``synth`` are parsed back by the pure-numpy codec —
    geometry and mean-RGB features must match the closed-form
    expectation; ids % 10 == 0 carry garbage payloads and must come back
    ok=False.

    * BMP (``synth_bmp_media``, ``multimodal.decode_bmp``).
    * PNG (``synth_png_media``): 8-bit, stdlib-zlib DEFLATE, CRC-correct
      chunks, parsed by ``multimodal.decode_png``.
    * JPEG (``synth_jpeg_media``): 4:2:0 with restart markers and
      ALL-ONES quant tables (lossless quantization), parsed by
      kernels/jpeg.py (canonical Huffman + batched-matmul IDCT).  The
      only lossy steps are the two color-conversion roundings, so the
      oracle is the closed-form YCbCr round trip of the fixture color.
    """
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        dec = multimodal.decode_media(synth(_media_ids(spark, sf_dir, 300)))
        return dec.select(
            "media_ref", "ok", "decoded_width", "decoded_height",
            F.round(F.element_at("features", 1).cast("double"), 4)
            .alias("f0"))
    return query


def _q_media_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs over REAL decoded features (multimodal
    analogue of SemDeDup): solid-color BMPs are decoded by the numpy
    codec to mean-RGB feature vectors, sign-LSH-blocked, and gated on
    exact cosine — closed-form oracle because the fixture colors are
    pure id arithmetic.  Garbage payloads (id % 10 == 0) and zero-color
    images drop out before pairing."""
    ids = _media_ids(spark, sf_dir, 300)
    media = multimodal.synth_bmp_media(ids)
    return multimodal.media_near_pairs(media)


def _q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REAL decoded pixels: textured 36x32 BMPs
    (8x9 grid of md5-byte blocks — solid colors are dHash-degenerate)
    are decoded by the numpy codec and average-pooled back to the
    grid, whose horizontal comparisons form the 64-bit hash.  Pooling
    is integer-exact (equal blocks), so the oracle rebuilds every grid
    byte from the same md5 keys in SQL and folds the comparisons into
    the identical (sig_hi, sig_lo) halves."""
    ids = _media_ids(spark, sf_dir, 500)
    sigs = multimodal.media_dhash(multimodal.synth_grid_bmp_media(ids))
    return sigs.filter("ok").select("media_ref", "sig_hi", "sig_lo") \
        .orderBy("media_ref")


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize of the textured 36x32 grid BMPs to a
    non-dividing 13x11 (uneven source strides catch orientation and
    stride bugs an even downscale hides), BMP re-encoded, decoded BACK
    by the same codec, and summarized as a position-weighted pixel
    checksum — resize, encode and decode all pinned end-to-end.  The
    oracle rebuilds every output pixel from the fixture's md5 grid
    formula with the identical floor-index arithmetic in SQL."""
    ids = _media_ids(spark, sf_dir, 500)
    resized = multimodal.media_resize(
        multimodal.synth_grid_bmp_media(ids), out_w=13, out_h=11)
    return multimodal.media_pixel_checksum(resized).orderBy("media_ref")


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature extraction: deterministic PCM16 mono
    WAV clips (sample n = ((doc_id*7 + n*13) % 256 - 128) * 100) are
    parsed by the pure-numpy RIFF walker and summarized as exact integer
    features (energy, strict-sign zero crossings, peak, duration).  Ids
    % 10 == 0 carry garbage payloads and must come back ok=False — the
    same anomaly convention as the image codecs."""
    ids = _media_ids(spark, sf_dir, 500)
    return multimodal.audio_features(
        multimodal.synth_wav_media(ids)).orderBy("media_ref")


def _q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit audio envelope hash: 256-sample deterministic clips are
    pooled into 65 energy windows (sample n -> window n*65//256) whose
    strict ascending comparisons form the hash — the audio analogue of
    media_dhash, sharing the (sig_hi, sig_lo) signature shape.  Ids >=
    250 are planted near-dups (base waveform of id % 250, +3000 spike
    on the last four samples); garbage ids (% 10 == 0) and ok=False."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_wav_media(ids, n_samples=256, dup_mod=250,
                                       md5_texture=True)
    return multimodal.audio_fingerprint(media) \
        .select("media_ref", "ok", "sig_hi", "sig_lo").orderBy("media_ref")


def _q_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs: envelope fingerprints banded by the
    SimHash pigeonhole machinery (Hamming <= 2 always shares one of the
    4 disjoint 16-bit bands — never all-pairs).  The planted spike
    touches windows 63/64 only, flipping at most the two adjacent
    comparisons, so every planted (i, i+250) pair must surface; the
    oracle verifies with an exact all-pairs bit_count at this scale."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_wav_media(ids, n_samples=256, dup_mod=250,
                                       md5_texture=True)
    return multimodal.audio_dup_pairs(media) \
        .orderBy("id_a", "id_b")


def _q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video features over REAL decoded YUV4MPEG2 streams: 6-frame
    36x32 clips built from the md5 grid texture (one grid per frame),
    alternating C420jpeg / Cmono colorspaces by id parity (both real
    decode paths, identical luma).  luma_sum and motion are exact
    integer folds over the decoded planes, so the oracle replays them
    from the same md5 bytes (x16 per 4x4 cell); garbage ids (% 10 == 0)
    pin the ok=False zero row."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_y4m_media(ids, dup_mod=250)
    return multimodal.video_features(media) \
        .select("media_ref", "ok", "width", "height", "n_frames",
                "luma_sum", "motion").orderBy("media_ref")


def _q_video_frame_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled video frames flowing UNCHANGED into the image pipeline:
    video_frames re-encodes each decoded luma plane as a grayscale BMP
    row, and media_dhash hashes it exactly like any other image.  The
    pooled 9x8 grid of a 36x32 frame recovers the md5 cell grid, so
    per-frame signatures have the same closed-form SQL twin as the
    image dHash oracle, extended by the frame axis."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_y4m_media(ids, dup_mod=250)
    frames = multimodal.video_frames(media, every_n=2)
    return multimodal.media_dhash(frames).filter("ok") \
        .select("media_ref", "sig_hi", "sig_lo").orderBy("media_ref")


def _q_video_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs via temporally-aligned frame dHashes:
    planted dups (ids >= 250 reuse base frames with one cell of frame 0
    bit-flipped) must match on >= 4 of 6 frames — frame 0 still lands
    at Hamming <= 1 and frames 1-5 are bit-identical, so every planted
    pair surfaces with n_matched = 6; md5-textured distinct clips share
    nothing.  The banding is the shared SimHash pigeonhole machinery
    (never all-pairs); the oracle verifies with exact same-frame
    all-pairs bit_count at this scale."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_y4m_media(ids, dup_mod=250)
    return multimodal.video_dup_pairs(media, min_frames=4) \
        .orderBy("id_a", "id_b")


def _q_media_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs: dHash signatures banded by the
    SimHash pigeonhole machinery (4 disjoint 16-bit bands => no pair
    within Hamming <= 2 can escape, never all-pairs).  The fixture
    plants doc_id >= 250 as a one-cell edit of doc_id % 250 (Hamming
    <= 1), so the planted (i, i+250) pairs must all surface; the
    oracle verifies with an exact all-pairs bit_count at this scale."""
    ids = _media_ids(spark, sf_dir, 500)
    media = multimodal.synth_grid_bmp_media(ids)
    return multimodal.media_dhash_pairs(media) \
        .orderBy("id_a", "id_b")


def _q_media_cross_codec_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FORMAT image near-dup: the same picture stored once as a
    BMP and once as a JPEG has different bytes (exact dedup is blind to
    it) but decodes to near-identical features — the codec dispatch +
    feature extraction + sign-LSH pipeline catches the re-encode.  BMP
    features are the exact fixture colors; JPEG features are the
    closed-form YCbCr round trip, so every surviving pair is replayed
    in SQL."""
    ids = _media_ids(spark, sf_dir, 150)
    media = multimodal.synth_bmp_media(ids).unionByName(
        multimodal.synth_jpeg_media(ids))
    return multimodal.media_near_pairs(media)


# ---- C2 structural classifier ---------------------------------------------


def _q_c2_structural(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("h_lines"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v_lines"),
        (F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)) + 1).alias("text_blocks"),
        F.floor(F.sum("value")).cast("int").alias("char_count"),
    ).withColumn("image_coverage", (F.col("user_id") % 100).cast("double") / 100.0) \
     .withColumn("gap_regular", F.col("user_id") % 2 == 0) \
     .withColumn("page_number", F.col("user_id"))
    c = classify_expr.structural_cascade(
        F.col("h_lines"), F.col("v_lines"), F.col("text_blocks"),
        F.col("char_count"), F.col("image_coverage"), F.col("gap_regular"),
        F.col("page_number"))
    return stats.select("user_id", c.alias("c")).select(
        "user_id", "c.page_type", "c.confidence")


def _q_x10_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 (reference database.py:173-282 JSON-serialized subtrees):
    to_json on a struct, then field extraction back out."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    j = F.to_json(F.struct("event_id", "event_type"))
    return ev.select(
        "event_id", j.alias("json_str"),
        F.get_json_object(j, "$.event_type").alias("rt_type"),
    )


def _q_o4_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 LIMIT/OFFSET pagination (reference viewer.py:418-429)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select("event_id", "user_id", "event_type")
              .orderBy("event_id").offset(100).limit(50))


#: bloom probe set — three corpus words, one rare-ish, two fabricated
#: absent tokens (no false negatives on the first four; the absent two
#: demonstrate the maybe-semantics)
_BLOOM_PROBES = ["table", "spark", "window", "hash",
                 "zz_absent_a", "zz_absent_b"]


def _q_bloom_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership over the corpus token vocabulary:
    build the word table (m=16384, k=4) on distinct tokens, probe a
    fixed list, report maybe_present next to ground truth (the sketch
    contract: no false negatives, bounded false positives)."""
    from rca_pdf_extraction_pipeline_spark.operators import sketches

    d = _t(spark, sf_dir, "documents")
    toks = (d.select(F.explode(F.filter(F.split("text", " "),
                                        lambda t: t != "")).alias("value"))
            .distinct())
    words = sketches.bloom_words(toks, "value", m_bits=16384, k=4)
    probes = spark.createDataFrame([(p,) for p in _BLOOM_PROBES],
                                   "value string")
    member = sketches.bloom_contains(words, probes, "value",
                                     m_bits=16384, k=4)
    truth = toks.select(F.col("value").alias("probe"),
                        F.lit(True).alias("actually_present"))
    return (member.join(truth, "probe", "left")
            .select("probe", "maybe_present",
                    F.coalesce("actually_present", F.lit(False))
                    .alias("actually_present"))
            .orderBy("probe"))


def _q_a12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A4 rollup surface as a REAL rollup: per-(returnflag,
    linestatus) revenue with linestatus subtotals and a grand total in
    one pass (Spark expands grouping sets before the single hash
    aggregate — one shuffle, same as the flat groupBy).  NULL group
    keys are the subtotal markers; aliased to '(all)' so both engines
    sort them identically."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (F.lit(1.0) - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select(F.coalesce("l_returnflag", F.lit("(all)"))
                    .alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("(all)"))
                    .alias("linestatus"),
                    "n_rows", "revenue")
            .orderBy("returnflag", "linestatus"))


def _q_a11_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ---- round-5 close-out batch: range join, heavy hitters, containment ------


def _q_interval_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval (range) join: every click attributed to each
    1-hour post-error window of the same user — an equi-join on
    (user_id, time bucket) + residual BETWEEN, never a nested loop."""
    e = _t(spark, sf_dir, "events")
    errs = (e.filter(F.col("event_type") == "error")
            .select("user_id", F.col("event_id").alias("err_id"),
                    F.col("ts").alias("lo"),
                    F.expr("ts + INTERVAL 3600 SECOND").alias("hi")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "event_id", "ts"))
    j = intervaljoin.point_in_interval_join(clicks, errs, on="user_id",
                                            bucket_seconds=3600)
    return (j.groupBy("user_id", "event_id")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.min("err_id").alias("first_err_id")))


def _q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters with a hashed candidate prune: pass 1 counts
    per md5 bucket (<= 4096 rows shuffle), pass 2 exact-counts only
    tokens whose bucket could reach the threshold."""
    d = _t(spark, sf_dir, "documents")
    toks = (d.select(F.explode_outer(textfns.tokens(F.col("text")))
                     .alias("token"))
            .filter(F.col("token").isNotNull()))
    return sketches.heavy_hitters(toks, "token", threshold=500)


def _snippet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents plus short snippet docs, deterministically derived
    as the first 40 tokens of every 5th doc (id + 100000) — mirrored in
    the oracle CTE ``corpus``."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snips = (d.filter(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     F.array_join(
                         F.slice(textfns.tokens(F.col("text")), 1, 40), " ")
                     .alias("text")))
    return d.unionByName(snips)


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (quote detection): the snippet docs score
    ~1.0 against their parents even though symmetric Jaccard is tiny."""
    return dedup.containment_pairs(_snippet_corpus(spark, sf_dir))


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-pruned overlap pairs (MOSS corpus formulation) on the same
    derived snippet corpus as containment_pairs: every 40-token snippet
    shares runs far beyond w+k-1 = 6 words with its parent, so the
    winnowing guarantee forces each (parent, snippet) pair into the
    candidate set from an index ~2/(w+1) the full-shingle size."""
    return dedup.winnow_overlap_pairs(_snippet_corpus(spark, sf_dir))


def _q_dedup_corpus_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-overlap CC dedup on the snippet-augmented corpus: every
    snippet pairs with its parent (guaranteed by the shared 40-token
    run), so components collapse to the parent id and the survivor set
    is (almost exactly) the original corpus."""
    return dedup.deduplicate_corpus_winnow(_snippet_corpus(spark, sf_dir)) \
        .select("doc_id", F.length("text").alias("n_chars"))


# ---- raw-HTML markup extraction (north_rule: boilerplate strip from
# ---- markup; operators/htmlparse.py) ---------------------------------------


def _html_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic markup lift of the documents corpus (dialect-shared
    synthesis rule, replayed verbatim in the oracle CTE ``hsrc``)."""
    return htmlparse.synth_html(_t(spark, sf_dir, "documents"))


def _q_html_parse_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw markup -> DOM block rows (tag, tag-stripped text, anchor
    char count) — pins the sentinel-split parser itself.  Narrow: one
    Project layer + one Generate, zero Exchange."""
    return htmlparse.parse_blocks(_html_corpus(spark, sf_dir))


def _q_html_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw markup -> interleaved spans (input_hint shape): block text
    split at every <img> position, images as spans of their own,
    offsets from the markup.  Exploded for the value compare."""
    return _span_rows(htmlparse.to_spans(_html_corpus(spark, sf_dir)))


def _q_html_main_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction from raw markup in ONE map: Boilerpipe
    scoring + neighbour smoothing run in-array per document before
    span assembly — nav/footer/title boilerplate dropped, zero
    shuffle (plan-pinned).  The north_star sentence as a query."""
    return _span_rows(
        htmlparse.to_spans(_html_corpus(spark, sf_dir), content_only=True))


def _q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor extraction: every <a href> in document order, root-
    relative hrefs resolved against the document's own origin."""
    return htmlparse.extract_links(_html_corpus(spark, sf_dir),
                                   base_col="site")


def _q_html_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document outline: every DOM block labelled with its nearest
    preceding h1 (in-array running-state fold, zero shuffle).  The
    oracle is an independent WINDOWED formulation — last_value(heading
    IGNORE NULLS) over the parsed block CTE — of the same scan."""
    return htmlparse.section_outline(_html_corpus(spark, sf_dir))


def _q_html_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> -> grid cells (the web analogue of the reference's
    PDF table-grid inference).  The oracle derives the expected cells
    from the synthesis arithmetic directly — it never re-parses — so
    this checks the sentinel table parser against an independent
    computation."""
    return htmlparse.parse_tables(htmlparse.synth_tables(
        _t(spark, sf_dir, "documents")))


def _q_html_link_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-level census of the extracted link graph: per destination
    host, total links / distinct source docs / resolved-relative
    count — the degree table of the anchor graph
    (operators/linkgraph.py consumes the edge set unchanged)."""
    links = htmlparse.extract_links(_html_corpus(spark, sf_dir),
                                    base_col="site")
    host = F.regexp_extract("url", "https://([^/]+)", 1)
    return (links.groupBy(host.alias("dst_site"))
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(F.when(F.col("href").startswith("/"), 1)
                       .otherwise(0)).alias("n_relative")))


def _q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata census (title / first h1 / anchor count / lead
    image) parsed from the raw markup; the oracle derives every column
    from the synthesis ARITHMETIC — an independent check of the
    parser, like html_table_cells."""
    return htmlparse.parse_meta(_html_corpus(spark, sf_dir))


def _driver_order(keys: list[str], correctness_dir: Path) -> list[str]:
    """Order ``keys`` for the driver's correctness window, which hashes
    only the FIRST 50 ``queries()`` keys against the DuckDB oracles.

    Each key's latest row across ``CORRECTNESS_r*.json`` decides its
    tier: keys whose latest row erred or mismatched lead, then keys no
    file has checked (in definition order), then green keys by the
    round of their last row, oldest first.  A new round's file rotates
    the window by itself (pinned by tests/test_driver_window.py).
    """
    import json
    import re

    latest: dict[str, tuple[int, bool]] = {}
    for f in correctness_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"_r(\d+)$", f.stem).group(1))
        for key, row in json.loads(f.read_text()).items():
            if key not in latest or rnd > latest[key][0]:
                green = (row.get("err") is None
                         and row.get("rows_match") is True
                         and row.get("schema_match") is True
                         and row.get("hash_match") is True)
                latest[key] = (rnd, green)
    erred = [k for k in keys if k in latest and not latest[k][1]]
    unchecked = [k for k in keys if k not in latest]
    greens = sorted((k for k in keys if k in latest and latest[k][1]),
                    key=lambda k: latest[k][0])
    return erred + unchecked + greens


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every driver query, in the window order of :func:`_driver_order`
    over the ``CORRECTNESS_r*.json`` files next to this module."""
    defs = {
        "html_parse_blocks": _q_html_parse_blocks,
        "html_spans": _q_html_spans,
        "html_main_spans": _q_html_main_spans,
        "html_links": _q_html_links,
        "html_link_census": _q_html_link_census,
        "html_meta": _q_html_meta,
        "html_table_cells": _q_html_table_cells,
        "html_sections": _q_html_sections,
        "interval_error_clicks": _q_interval_error_clicks,
        "heavy_hitter_tokens": _q_heavy_hitter_tokens,
        "containment_pairs": _q_containment_pairs,
        "winnow_pairs": _q_winnow_pairs,
        "dedup_corpus_winnow": _q_dedup_corpus_winnow,
        "interleaved_merged": _q_interleaved_merged,
        "media_context": _q_media_context,
        "asset_census": _q_asset_census,
        "asset_dedup_groups": _q_asset_dedup_groups,
        "interleaved_quality": _q_interleaved_quality,
        "span_diff": _q_span_diff,
        "layout_reading_order": _q_layout_reading_order,
        "dedup_cluster_sizes": _q_dedup_cluster_sizes,
        "interleaved_spans": _q_interleaved_spans,
        "interleaved_captions": _q_interleaved_captions,
        "pack_interleaved": _q_pack_interleaved,
        "lm_score_stored": _q_lm_score_stored,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "substr_trim": _q_substr_trim,
        "pack_sequences": _q_pack_sequences,
        "ann_ivfsq_topk": _q_ann_ivfsq_topk,
        "media_resize": _q_media_resize,
        "audio_features": _q_audio_features,
        "audio_fingerprint": _q_audio_fingerprint,
        "audio_dup_pairs": _q_audio_dup_pairs,
        "video_features": _q_video_features,
        "video_frame_dhash": _q_video_frame_dhash,
        "video_dup_pairs": _q_video_dup_pairs,
        "knn_join_topk": _q_knn_join_topk,
        "ann_sq8_topk": _q_ann_sq8_topk,
        "sq8_recall": _q_sq8_recall,
        "ann_ivfadc_topk": _q_ann_ivfadc_topk,
        "link_pagerank_full": _q_link_pagerank_full,
        "link_pagerank_bucketed": _q_link_pagerank_bucketed,
        "url_psl_domains": _q_url_psl_domains,
        "media_near_pairs": _q_media_near_pairs,
        "dsir_topk": _q_dsir_topk,
        "link_triangles": _q_link_triangles,
        "link_cocitation": _q_link_cocitation,
        "link_components": _q_link_components,
        "link_clustering": _q_link_clustering,
        "link_ppr": _q_link_ppr,
        "link_hits": _q_link_hits,
        "text_allpairs_cosine": _q_text_allpairs_cosine,
        "split_leakage_safe": _q_split_leakage_safe,
        "sample_token_mixture": _q_sample_token_mixture,
        "ann_recall": _q_ann_recall,
        "nb_confusion": _q_nb_confusion,
        "nb_holdout_confusion": _q_nb_holdout_confusion,
        "dedup_minhash_est": _q_dedup_minhash_est,
        "sample_temperature": _q_sample_temperature,
        "multimodal_decode_jpeg": _q_multimodal_decode(
            multimodal.synth_jpeg_media),
        "corpus_drift": _q_corpus_drift,
        "corpus_drift_counts": _q_corpus_drift_counts,
        "charset_profile": _q_charset_profile,
        "media_cross_codec_pairs": _q_media_cross_codec_pairs,
        "vocab_overlap_hll": _q_vocab_overlap_hll,
        "cohort_retention": _q_cohort_retention,
        "active_users": _q_active_users,
        "zorder_stats": _q_zorder_stats,
        "media_dhash": _q_media_dhash,
        "media_dhash_pairs": _q_media_dhash_pairs,
        "embed_jl_project": _q_embed_jl_project,
        "jl_recall": _q_jl_recall,
        "bpe_merges": _q_bpe_merges,
        "bpe_token_stats": _q_bpe_token_stats,
        "bpe_fertility": _q_bpe_fertility,
        "epoch_shards": _q_epoch_shards,
        "dedup_corpus_cc_best": _q_dedup_corpus_cc_best,
        "domain_caps": _q_domain_caps,
        "extract_flagship": _q_extract_flagship,
        "f8_page_range": _q_f8_page_range,
        "a8_depth_summary": _q_a8_depth_summary,
        "s5_doc_metadata": _q_s5_doc_metadata,
        "span_search": _q_span_search,
        "span_kind_census": _q_span_kind_census,
        "a0_pricing_summary": _q_a0_pricing_summary,
        "j1_broadcast_join": _q_j1_broadcast_join,
        "o3_topk_orders": _q_o3_topk_orders,
        "j5_levenshtein_pairs": _q_j5_levenshtein_pairs,
        "asof_click_view": _q_asof_click_view,
        "session_windows": _q_session_windows,
        "w1_lead_boundary": _q_w1_lead_boundary,
        "w2_cumsum_sessions": _q_w2_cumsum_sessions,
        "w3_reading_order": _q_w3_reading_order,
        "a1_group_concat": _q_a1_group_concat,
        "a7_gap_regularity": _q_a7_gap_regularity,
        "f3_band_histogram": _q_f3_band_histogram,
        "c1_keyword_cascade": _q_c1_keyword_cascade,
        "a5_keyword_score": _q_a5_keyword_score,
        "x_scalar_suite": _q_x_scalar_suite,
        "x10_json_roundtrip": _q_x10_json_roundtrip,
        "o4_pagination": _q_o4_pagination,
        "a11_distinct_agg": _q_a11_distinct_agg,
        "dedup_exact": _q_dedup_exact,
        "dedup_exact_normalized": _q_dedup_exact_normalized,
        "dedup_minhash_pairs": _q_dedup_minhash_pairs,
        "dedup_jaccard_pairs": _q_dedup_jaccard_pairs,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "url_normalize": _q_url_normalize,
        "url_dedup_groups": _q_url_dedup_groups,
        "url_blocklist_flags": _q_url_blocklist,
        "dedup_corpus": _q_dedup_corpus,
        "dedup_corpus_cc": _q_dedup_corpus_cc,
        "dedup_embedding_pairs": _q_dedup_embedding_pairs,
        "sim_topk_cosine": _q_sim_topk_cosine,
        "sim_lsh_buckets": _q_sim_lsh_buckets,
        "sim_bucketed_topk": _q_sim_bucketed_topk,
        "sim_multiprobe_topk": _q_sim_multiprobe_topk,
        "j_semi_anti": _q_j_semi_anti,
        "domain_stats": _q_domain_stats,
        "a12_rollup": _q_a12_rollup,
        "multimodal_stats": _q_multimodal_stats,
        "c2_structural": _q_c2_structural,
        "html_boilerplate": _q_html_boilerplate,
        "html_block_scores": _q_html_block_scores,
        "text_langid": _q_text_langid,
        "text_fingerprint": _q_text_fingerprint,
        "text_winnow": _q_text_winnow,
        "c1_classify_golden": _q_classify_golden,
        "p2_samples_golden": _q_samples_golden,
        "h1_headers_golden": _q_headers_golden,
        "h2_verify_golden": _q_h2_verify_golden,
        "c2_structural_spans": _q_c2_structural_spans,
        "table_grid_cells": _q_table_grid_cells,
        "table_consolidated": _q_table_consolidated,
        "ann_kmeans_centroids": _q_ann_kmeans_centroids,
        "text_embed_vectors": _q_text_embed_vectors,
        "ann_ivf_sampled": _q_ann_ivf_sampled,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "semantic_dedup_pairs": _q_semantic_dedup_pairs,
        "semantic_dedup_keep": _q_semantic_dedup_keep,
        "text_embed_topk": _q_text_embed_topk,
        "vocab_topk": _q_vocab_topk,
        "vocab_coverage": _q_vocab_coverage,
        "boilerplate_lines": _q_boilerplate_lines,
        "boilerplate_site_lines": _q_boilerplate_site_lines,
        "multimodal_decode_bmp": _q_multimodal_decode(
            multimodal.synth_bmp_media),
        "hist_quantiles": _q_hist_quantiles,
        "dedup_incremental": _q_dedup_incremental,
        "text_token_stats": _q_text_token_stats,
        "text_quality": _q_text_quality,
        "multimodal_decode_png": _q_multimodal_decode(
            multimodal.synth_png_media),
        "link_degree_census": _q_link_degree_census,
        "link_pagerank": _q_link_pagerank,
        "text_repetition": _q_text_repetition,
        "text_unigram_lm": _q_text_unigram_lm,
        "text_bigram_lm": _q_text_bigram_lm,
        "text_token_bpe": _q_text_token_bpe,
        "text_pii": _q_text_pii,
        "substr_dup_ranges": _q_substr_dup_ranges,
        "decontaminate_report": _q_decontaminate_report,
        "substr_dup_profile": _q_substr_dup_profile,
        "bm25_topk": _q_bm25_topk,
        "hybrid_rrf_topk": _q_hybrid_rrf_topk,
        "inverted_index": _q_inverted_index,
        "source_tfidf": _q_source_tfidf,
        "hll_distinct_tokens": _q_hll_distinct_tokens,
        "cms_token_counts": _q_cms_token_counts,
        "bloom_tokens": _q_bloom_tokens,
        "cluster_profile": _q_cluster_profile,
        "curation_flags": _q_curation_flags,
        "source_report": _q_source_report,
        "corpus_profile": _q_corpus_profile,
        "chunk_windows": _q_chunk_windows,
        "pack_bins": _q_pack_bins,
        "sample_hash": _q_sample_hash,
        "sample_split": _q_sample_split,
        "sample_stratified": _q_sample_stratified,
        "sample_per_group": _q_sample_per_group,
        "sample_weighted": _q_sample_weighted,
        "sample_mixture": _q_sample_mixture,
        "ann_pq_codes": _q_ann_pq_codes,
        "ann_pq_topk": _q_ann_pq_topk,
        "url_suffix_domains": _q_url_suffix_domains,
    }
    return {k: defs[k] for k in _driver_order(list(defs), REPO)}


# --------------------------------------------------------------------------
# DuckDB oracle building blocks: every CTE chain that more than one oracle
# runs is written once here, and the oracles compose them
# (tests/test_oracle_parity.py::test_no_six_line_window_repeats)
# --------------------------------------------------------------------------

_STOPWORDS_SQL = "[" + ",".join(f"'{w}'" for w in textfns.EN_STOPWORDS) + "]"

#: text_quality twin (textanalysis.quality_scores)
_SQL_QUALITY = f"""
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks,
                     greatest(length(text), 1)::DOUBLE AS total,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digit
              FROM documents),
            r AS (
              SELECT doc_id, alpha / total AS alpha_ratio, digit / total AS digit_ratio,
                     len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1)::DOUBLE AS stop_ratio
              FROM t)
            SELECT doc_id,
              round(alpha_ratio, 6) AS alpha_ratio,
              round(digit_ratio, 6) AS digit_ratio,
              round(stop_ratio, 6) AS stopword_ratio,
              round(0.5 * alpha_ratio + 0.3 * stop_ratio + 0.2 * (1.0 - digit_ratio), 6)
                AS quality_score
            FROM r
    """

#: text_langid twin (textanalysis.language_id)
_SQL_LANGID = f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
              FROM documents),
            r AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, lower(x))))::DOUBLE
                       / greatest(len(toks), 1)::DOUBLE AS ratio
              FROM t)
            SELECT doc_id, round(ratio, 6) AS stopword_ratio,
                   CASE WHEN ratio >= 0.03 THEN 'en' ELSE 'und' END AS pred_lang
            FROM r
    """

#: text_repetition twin (textanalysis.repetition_stats)
_SQL_REPETITION = """
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS tk
              FROM documents),
            g2 AS (
              SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gram
              FROM d, unnest(generate_series(1, len(tk) - 1)) AS t(i)
              WHERE len(tk) >= 2),
            m2 AS (
              SELECT doc_id, gram, COUNT(*) AS cnt,
                     COUNT(*) * length(gram) AS mass
              FROM g2 GROUP BY doc_id, gram),
            r2 AS (
              SELECT doc_id, MAX(mass)::DOUBLE / SUM(mass)::DOUBLE AS top2
              FROM m2 GROUP BY doc_id),
            g5 AS (
              SELECT doc_id,
                     tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                     || tk[i+3] || ' ' || tk[i+4] AS gram
              FROM d, unnest(generate_series(1, len(tk) - 4)) AS t(i)
              WHERE len(tk) >= 5),
            m5 AS (
              SELECT doc_id, gram, COUNT(*) AS cnt,
                     COUNT(*) * length(gram) AS mass
              FROM g5 GROUP BY doc_id, gram),
            r5 AS (
              SELECT doc_id,
                     SUM(CASE WHEN cnt >= 2 THEN mass ELSE 0 END)::DOUBLE
                       / SUM(mass)::DOUBLE AS dup5
              FROM m5 GROUP BY doc_id)
            SELECT d.doc_id,
                   round(COALESCE(r2.top2, 0.0), 6) AS top_2gram_frac,
                   round(COALESCE(r5.dup5, 0.0), 6) AS dup_5gram_frac
            FROM d LEFT JOIN r2 ON d.doc_id = r2.doc_id
                   LEFT JOIN r5 ON d.doc_id = r5.doc_id
    """

#: the curation verdict per doc (curation.curation_flags): language,
#: then quality, then repetition, else keep
_SQL_CURATION_FLAGS = f"""
            WITH q AS ({_SQL_QUALITY}),
            l AS ({_SQL_LANGID}),
            r AS ({_SQL_REPETITION}),
            flags AS (
              SELECT l.doc_id, l.pred_lang, q.quality_score,
                     r.top_2gram_frac, r.dup_5gram_frac,
                     CASE WHEN l.pred_lang NOT IN ('en') THEN 'lang'
                          WHEN q.quality_score < 0.45 THEN 'quality'
                          WHEN r.top_2gram_frac > 0.35
                               OR r.dup_5gram_frac > 0.35 THEN 'repetition'
                          ELSE 'keep' END AS reject_reason
              FROM l JOIN q ON l.doc_id = q.doc_id
                     JOIN r ON l.doc_id = r.doc_id)"""

#: MinHash LSH over ``sh`` (_SQL_SHINGLE_BASE): one md5 per shingle,
#: eight universal-hash permutations (functions/hashing.MINHASH_SEEDS)
#: in ``sig``, which keeps ``shset``, and 2 bands x 4 rows of band keys
_SQL_MINHASH_KEYS = """
            sigbase AS (
              SELECT doc_id, shset,
                     list_transform(shset, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hv
              FROM sh),
            sig AS (SELECT doc_id, shset, """ + ", ".join(
    f"list_aggregate(list_transform(hv, h -> ({a} * h + {b}) % {H.MINHASH_MOD}), 'min')"
    f" AS sig_{s}" for s, (a, b) in enumerate(H.MINHASH_SEEDS)) + """ FROM sigbase),
            keys AS (
              SELECT doc_id, 0 AS band,
                     sig_0::VARCHAR || '-' || sig_1::VARCHAR || '-'
                       || sig_2::VARCHAR || '-' || sig_3::VARCHAR AS band_key FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band,
                     sig_4::VARCHAR || '-' || sig_5::VARCHAR || '-'
                       || sig_6::VARCHAR || '-' || sig_7::VARCHAR AS band_key FROM sig)"""

#: LSH candidate pairs: a shared band key, each pair once (id_a < id_b)
_SQL_MINHASH_CAND = """
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM keys a JOIN keys b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)"""


def _sql_jaccard(a: str, b: str) -> str:
    """Exact Jaccard of two shingle sets, rounded to 6 dp."""
    return (f"round(len(list_intersect({a}.shset, {b}.shset))::DOUBLE\n"
            f"                    / len(list_distinct(list_concat({a}.shset, "
            f"{b}.shset)))::DOUBLE, 6)")


def _sql_components(pairs: str) -> str:
    """Connected components of the undirected ``(id_a, id_b)`` relation
    ``pairs``: per node the least id it reaches (``minlab``; a node
    with no pair has no row).  Needs ``WITH RECURSIVE``."""
    return f"""
            edges AS (SELECT id_a AS src, id_b AS dst FROM {pairs}
                      UNION
                      SELECT id_b, id_a FROM {pairs}),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            minlab AS (
              SELECT src AS doc_id, least(src, min(dst)) AS label
              FROM reach GROUP BY src)"""


#: MinHash LSH candidates verified at exact Jaccard >= 0.8
#: (dedup.deduplicate_corpus)
_SQL_LSH_VERIFIED = f"""{_SQL_SHINGLE_BASE},{_SQL_MINHASH_KEYS},{_SQL_MINHASH_CAND},
            verified AS (
              SELECT c.id_a, c.id_b
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b
              WHERE {_sql_jaccard('sa', 'sb')} >= 0.8)"""

#: ... and their connected components (``cc`` dedup)
_SQL_LSH_COMPONENTS = ("\n            WITH RECURSIVE " + _SQL_LSH_VERIFIED + ","
                       + _sql_components("verified"))

#: every document's component label (its own id when it has no
#: near-duplicate)
_SQL_COMPONENT_LABELS = """
            lab AS (
              SELECT d.doc_id, COALESCE(m.label, d.doc_id) AS label, d.n_chars
              FROM documents d LEFT JOIN minlab m ON m.doc_id = d.doc_id)"""

#: the leakage-safe split (sampling.leakage_safe_split): the sample_split
#: bucket rule applied to the component label, so near-duplicate
#: components co-travel
_SQL_LEAKAGE_SAFE_SPLIT = _SQL_LSH_COMPONENTS + "," + _SQL_COMPONENT_LABELS + """,
            bk AS (SELECT doc_id,
                     ('0x' || substr(md5('0:' || label::VARCHAR), 1, 8))::BIGINT
                     % 1000000 AS bkt
                   FROM lab),
            sp AS (SELECT doc_id,
                     CASE WHEN bkt < 800000 THEN 'train'
                          WHEN bkt < 900000 THEN 'val'
                          ELSE 'test' END AS split
                   FROM bk)"""


def _sql_nb_confusion(train: str, test: str) -> str:
    """Confusion matrix of the multinomial NB language classifier
    (textanalysis.nb_classify) trained on the documents of ``train`` and
    scored on those of ``test``: Laplace-smoothed counts, quantized-log
    integer scores, argmax ties by class."""
    return f"""
            tr_tok AS (SELECT lang AS actual,
                         unnest(list_filter(string_split(text, ' '),
                                            t -> t != '')) AS token
                       FROM {train}),
            tok AS (SELECT doc_id AS doc, lang AS actual,
                      unnest(list_filter(string_split(text, ' '),
                                         t -> t != '')) AS token
                    FROM {test}),
            cc AS (SELECT actual AS cls, token,
                     round(ln((COUNT(*) + 1)::DOUBLE) * 1000000)::BIGINT AS lp
                   FROM tr_tok GROUP BY 1, 2),
            v AS (SELECT COUNT(DISTINCT token)::BIGINT AS v FROM tr_tok),
            nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM {train}),
            ncls AS (SELECT lang AS cls, COUNT(*)::BIGINT AS n_c
                     FROM {train} GROUP BY lang),
            tot AS (SELECT actual AS cls, COUNT(*)::BIGINT AS tot
                    FROM tr_tok GROUP BY 1),
            stats AS (SELECT tot.cls,
                        round(ln((tot.tot + v.v)::DOUBLE)
                              * 1000000)::BIGINT AS lp_denom,
                        round(ln(ncls.n_c::DOUBLE / nd.n_docs::DOUBLE)
                              * 1000000)::BIGINT AS lp_prior
                      FROM tot CROSS JOIN v CROSS JOIN nd
                      JOIN ncls ON ncls.cls = tot.cls),
            obs AS (SELECT tok.doc, cc.cls, SUM(cc.lp)::BIGINT AS lp_obs
                    FROM tok JOIN cc ON cc.token = tok.token
                    GROUP BY 1, 2),
            pdoc AS (SELECT doc_id AS doc, lang AS actual,
                       len(list_filter(string_split(text, ' '),
                                       t -> t != ''))::BIGINT AS n_tok
                     FROM {test}),
            scored AS (SELECT pdoc.doc, pdoc.actual, s.cls,
                         (s.lp_prior + COALESCE(o.lp_obs, 0)
                          - pdoc.n_tok * s.lp_denom)::BIGINT AS score
                       FROM pdoc CROSS JOIN stats s
                       LEFT JOIN obs o ON o.doc = pdoc.doc AND o.cls = s.cls),
            pick AS (SELECT doc, actual, cls AS predicted FROM (
                       SELECT scored.*, ROW_NUMBER() OVER (
                         PARTITION BY doc ORDER BY score DESC, cls ASC) AS rn
                       FROM scored) WHERE rn = 1)
            SELECT actual, predicted, COUNT(*)::BIGINT AS n_docs
            FROM pick GROUP BY 1, 2 ORDER BY 1, 2
        """


#: the snippet-augmented corpus of the pair queries (entry
#: ``_snippet_corpus``): every document, plus the first 40 tokens of
#: every 5th one as doc ``doc_id + 100000``
_SQL_SNIPPET_CORPUS = """
            base AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
              FROM documents),
            corpus AS (
              SELECT doc_id, text, toks FROM base
              UNION ALL
              SELECT doc_id + 100000 AS doc_id,
                     array_to_string(toks[1:40], ' ') AS text,
                     toks[1:40] AS toks
              FROM base WHERE doc_id % 5 = 0)"""


def _sql_winnow_windows(src: str) -> str:
    """Winnowing windows over ``src`` (doc_id, toks): md5 token hashes,
    rolling 3-token gram hashes ``hs`` (one fold when a doc has fewer
    than 3 tokens), and ``wwin`` = every window of 4 gram hashes from
    1-based start ``i`` (textanalysis.winnow_hash_frame)."""
    return f"""
            wth AS (
              SELECT doc_id, list_transform(toks,
                       t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS th
              FROM {src}),
            wh AS (
              SELECT doc_id,
                     CASE WHEN len(th) >= 3
                          THEN list_transform(generate_series(1, len(th) - 2),
                               i -> (((th[i] * 8191 + th[i+1]) & 4294967295)
                                    * 8191 + th[i+2]) & 4294967295)
                          ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                (a, b) -> (a * 8191 + b) & 4294967295)] END AS hs
              FROM wth),
            wwin AS (
              SELECT doc_id, i, list_slice(hs, i, i + 3) AS wn
              FROM wh, unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS t(i))"""


#: winnow-overlap pairs over the snippet corpus (textanalysis.
#: winnow_selection_frame + dedup.winnow_overlap_pairs): selected
#: fingerprints with df in [2, 16], pairs sharing at least two
_SQL_WINNOW_PAIRS = (_SQL_SNIPPET_CORPUS + "," + _sql_winnow_windows("corpus")
                     + """,
            wsel AS (SELECT DISTINCT doc_id, list_min(wn)::BIGINT AS gh FROM wwin),
            wdfreq AS (SELECT gh, count(*) AS df FROM wsel GROUP BY gh),
            wok AS (SELECT wsel.doc_id, wsel.gh FROM wsel JOIN wdfreq USING (gh)
                    WHERE df BETWEEN 2 AND 16),
            wpr AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*)::BIGINT AS n_shared
              FROM wok a JOIN wok b ON a.gh = b.gh AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2)""")

#: 8-token gram hashes (operators/substring_dedup): token lists ``d``
#: and one ``grams`` row per 0-based start ``pos``
_SQL_GRAMS8 = """
            d AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS tk
              FROM documents),
            grams AS (
              SELECT doc_id, (i - 1)::INT AS pos,
                     substr(md5(list_aggregate(tk[i:i+7], 'string_agg', ' ')),
                            1, 16) AS gh
              FROM d, unnest(generate_series(1, len(tk) - 7)) AS t(i)
              WHERE len(tk) >= 8)"""

#: gram positions whose hash occurs in two or more docs, numbered into
#: runs: positions of one run share ``grp``
_SQL_DUP_RUNS = _SQL_GRAMS8 + """,
            dup AS (
              SELECT gh FROM grams
              GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
            pos AS (
              SELECT doc_id, pos FROM grams
              WHERE gh IN (SELECT gh FROM dup)),
            isl AS (
              SELECT doc_id, pos,
                     pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
              FROM pos)"""

#: BM25 (k1 = 1.2, b = 0.75) of every doc for the terms BM25_TERMS
#: (search.bm25_scores): per-doc ``tf_i``, corpus ``df_i``, ``bm25``
_SQL_BM25 = """
            d AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS tk
              FROM documents),
            p AS (
              SELECT doc_id, len(tk)::INT AS dl, """ + ", ".join(
    f"len(list_filter(tk, x -> x = '{t}'))::INT AS tf_{i}"
    for i, t in enumerate(BM25_TERMS)) + """
              FROM d),
            st AS (
              SELECT COUNT(*)::BIGINT AS n_docs, AVG(dl) AS avgdl, """ + ", ".join(
    f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
    for i in range(len(BM25_TERMS))) + """
              FROM p),
            scored AS (
              SELECT doc_id, """ + ", ".join(
    f"tf_{i}" for i in range(len(BM25_TERMS))) + """,
                round(""" + "\n                + ".join(
    f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
    f" * (tf_{i}::DOUBLE * 2.2"
    f" / (tf_{i}::DOUBLE + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
    for i in range(len(BM25_TERMS))) + """,
                6) AS bm25
              FROM p, st)"""

#: HyperLogLog (2^12 registers) estimate of a register set with
#: ``si`` = sum of 2^(49 - rank) and ``nz`` non-empty registers: linear
#: counting at or below 2.5 m, else the bias-corrected raw estimate
#: (sketches.hll_estimate)
_SQL_HLL_ESTIMATE = """CASE WHEN ((0.7213 / (1 + 1.079 / 4096.0)) * 4096 * 4096
                           / (si / 562949953421312.0 + (4096 - nz)))
                          <= 2.5 * 4096
                       AND (4096 - nz) > 0
                     THEN round(4096 * ln(4096.0 / (4096 - nz)), 3)
                     ELSE round((0.7213 / (1 + 1.079 / 4096.0)) * 4096 * 4096
                           / (si / 562949953421312.0 + (4096 - nz)), 3)
                END"""

#: per-language HLL over the corpus tokens: registers ``regs`` and the
#: estimate ``fin`` (grp, est_distinct)
_SQL_HLL_BY_LANG = f"""
            tok AS (
              SELECT lang AS grp,
                     unnest(list_filter(string_split(text, ' '),
                            t -> t != '')) AS tok
              FROM documents),
            h AS (
              SELECT grp, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h60
              FROM tok),
            regs AS (
              SELECT grp, h60 >> 48 AS bucket,
                MAX(CASE WHEN (h60 & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                         ELSE 48 - len(bin(h60 & ((1::BIGINT << 48) - 1))) + 1
                    END) AS max_rank
              FROM h GROUP BY 1, 2),
            est AS (
              SELECT grp,
                     SUM(1::BIGINT << (49 - max_rank))::BIGINT AS si,
                     COUNT(*)::BIGINT AS nz
              FROM regs GROUP BY grp),
            fin AS (
              SELECT grp, {_SQL_HLL_ESTIMATE} AS est_distinct
              FROM est)"""


def _sql_d2(x: str, y: str) -> str:
    """Exact squared L2 distance of two equal-length BIGINT lists."""
    return (f"list_aggregate(list_transform(generate_series(1, len({x})),\n"
            f"                       i -> ({x}[i] - {y}[i]) * ({x}[i] - {y}[i])),\n"
            f"                       'sum')")


def _sql_embedding_lattice(name: str) -> str:
    """Relation ``name`` (vec_id, embedding, qv): every embedding and its
    integer lattice ``qv`` (round(x * 1000), similarity.KMEANS_SCALE)."""
    return f"""
            {name} AS (SELECT vec_id, embedding,
                    list_transform(embedding,
                      x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
                  FROM embeddings)"""


def _sql_lloyd(sfx: str) -> str:
    """k-means on the lattice vectors of ``e{sfx}`` (vec_id, qv): seeds
    ``c0`` = the 4 lowest vec_ids, then two unrolled Lloyd iterations
    (argmin assignment ties by cid, floor-mean update) to ``c2``, in
    exact BIGINT arithmetic.  ``sfx`` namespaces the chain (one per PQ
    subspace)."""
    chain = f"""
            c0{sfx} AS (SELECT vec_id AS cid, qv AS cv FROM e{sfx}
                   ORDER BY vec_id LIMIT 4)"""
    for n in (1, 2):
        chain += f""",
            p{n}{sfx} AS (SELECT e.vec_id, e.qv, c.cid,
                     {_sql_d2('e.qv', 'c.cv')} AS d2
                   FROM e{sfx} e CROSS JOIN c{n - 1}{sfx} c),
            a{n}{sfx} AS (SELECT vec_id, qv, cid FROM (
                     SELECT p{n}{sfx}.*, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM p{n}{sfx})
                   WHERE rn = 1),
            u{n}{sfx} AS (SELECT cid, i AS dim,
                     floor(SUM(qv[i])::DOUBLE / COUNT(*))::BIGINT AS cvi
                   FROM a{n}{sfx}, unnest(generate_series(1, len(qv))) AS t(i)
                   GROUP BY cid, i),
            c{n}{sfx} AS (SELECT cid, list(cvi ORDER BY dim) AS cv
                   FROM u{n}{sfx} GROUP BY cid)"""
    return chain


def _sql_assign(src: str) -> str:
    """Nearest centroid of ``c2`` for every vector of ``src``: ``p3``
    holds all squared distances, ``a3`` the argmin (ties by cid)."""
    return f"""
            p3 AS (SELECT e.vec_id, e.embedding, c.cid,
                     {_sql_d2('e.qv', 'c.cv')} AS d2
                   FROM {src} e CROSS JOIN c2 c),
            a3 AS (SELECT vec_id, embedding, cid, d2 FROM (
                     SELECT p3.*, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM p3)
                   WHERE rn = 1)"""


#: the trained IVF coarse quantizer (k = 4, 2 iterations) and every
#: vector's cell ``a3``
_SQL_KMEANS = _sql_embedding_lattice("e") + "," + _sql_lloyd("")
_SQL_KMEANS_ASSIGN = _SQL_KMEANS + "," + _sql_assign("e")

#: the nprobe = 2 cells nearest to vector 0
_SQL_PROBES = """
            probes AS (SELECT cid FROM p3 WHERE vec_id = 0
                       ORDER BY d2, cid LIMIT 2)"""

#: vector 0, the query of the top-k oracles
_SQL_QUERY_VEC = """
            q AS (SELECT embedding::DOUBLE[] AS q_vec FROM embeddings
                  WHERE vec_id = 0)"""

#: IVF top-10: the probed cells' vectors ranked by cosine to ``q``
_SQL_IVF_TOP10 = _SQL_PROBES + """,
            appr AS (SELECT a3.vec_id, a3.cid,
                       round(list_cosine_similarity(a3.embedding::DOUBLE[],
                             q_vec), 6) AS cosine_sim
                     FROM a3 JOIN probes USING (cid), q
                     WHERE a3.vec_id <> 0
                     ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10)"""

#: brute-force cosine top-10 to ``q`` (similarity.cosine_topk)
_SQL_EXACT_TOP10 = """
            exact AS (SELECT vec_id,
                        round(list_cosine_similarity(embedding::DOUBLE[],
                              q.q_vec), 6) AS cosine_sim
                      FROM embeddings, q WHERE vec_id <> 0
                      ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10)"""

#: recall@10 of the top-10 ``appr`` against ``exact``
#: (similarity.recall_at_k)
_SQL_RECALL_AT_10 = """,
            hits AS (SELECT COUNT(*)::BIGINT AS n_hits FROM exact
                     WHERE vec_id IN (SELECT vec_id FROM appr))
            SELECT 10::BIGINT AS k, n_hits,
                   ((n_hits * 1000000) // 10)::BIGINT AS recall_micro
            FROM hits
        """

#: int8 scalar quantization of the lattice ``e``: per-dim min-max bounds
#: ``bl``, floor-div ``codes``, midpoint reconstruction ``recon``;
#: ``q`` is vector 0's lattice (similarity.sq8_topk)
_SQL_SQ8 = """
            b AS (SELECT i AS dim, MIN(qv[i])::BIGINT AS mn,
                         MAX(qv[i])::BIGINT AS mx
                  FROM e, unnest(generate_series(1, len(qv))) AS t(i)
                  GROUP BY i),
            bl AS (SELECT list(mn ORDER BY dim) AS mns,
                          list(mx ORDER BY dim) AS mxs FROM b),
            q AS (SELECT qv AS qqv FROM e WHERE vec_id = 0),
            codes AS (SELECT e.vec_id,
                    list_transform(generate_series(1, len(e.qv)),
                      i -> CASE WHEN bl.mxs[i] = bl.mns[i] THEN 0
                           ELSE least(255, greatest(0,
                             ((e.qv[i] - bl.mns[i]) * 255)
                             // (bl.mxs[i] - bl.mns[i]))) END) AS cs
                  FROM e, bl),
            recon AS (SELECT c.vec_id,
                    list_transform(generate_series(1, len(c.cs)),
                      i -> CASE WHEN bl.mxs[i] = bl.mns[i] THEN bl.mns[i]
                           ELSE bl.mns[i] + ((2 * c.cs[i] + 1)
                             * (bl.mxs[i] - bl.mns[i])) // 510 END) AS rv
                  FROM codes c, bl)"""

#: asymmetric SQ8 distance of a reconstruction ``r`` to ``q``
_SQL_SQ8_D2 = _sql_d2("q.qqv", "r.rv") + "::BIGINT"

#: SQ8 top-10 to ``q`` over every reconstruction
_SQL_SQ8_TOP10 = f"""
            appr AS (SELECT r.vec_id, {_SQL_SQ8_D2} AS sq_d2
                     FROM recon r, q WHERE r.vec_id <> 0
                     ORDER BY sq_d2 ASC, vec_id ASC LIMIT 10)"""

#: JL sign projection (similarity.project_embeddings) of every lattice
#: vector onto 16 dims through a content-addressed +-1 matrix:
#: ``proj`` (vec_id, j, y), exact BIGINT sums
_SQL_JL_PROJ = _sql_embedding_lattice("lat") + """,
            signs AS (
              SELECT d.i, o.j,
                     (CASE WHEN ('0x' || substr(
                          md5('jl0:' || d.i || ':' || o.j), 1, 8))::BIGINT
                          % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS s
              FROM (SELECT unnest(range(64))::BIGINT AS i) d,
                   (SELECT unnest(range(16))::BIGINT AS j) o),
            expl AS (
              SELECT vec_id, d.i, qv[d.i + 1] AS v
              FROM lat, (SELECT unnest(range(64))::BIGINT AS i) d),
            proj AS (
              SELECT e.vec_id, s.j, SUM(e.v * s.s)::BIGINT AS y
              FROM expl e JOIN signs s ON e.i = s.i
              GROUP BY e.vec_id, s.j)"""

#: the 64-bit fold of dHash ``bits`` (j, bit): bits 32..63 into
#: ``sig_hi``, 0..31 into ``sig_lo``
_SQL_DHASH_FOLD = """SUM(CASE WHEN j >= 32 THEN bit << (j - 32)
                                ELSE 0 END)::BIGINT AS sig_hi,
                       SUM(CASE WHEN j < 32 THEN bit << j
                                ELSE 0 END)::BIGINT AS sig_lo"""

#: pairs of ``sigs`` (id, sig_hi, sig_lo) within Hamming distance 2
_SQL_HAMMING2_PAIRS = """
            SELECT a.id AS id_a, b.id AS id_b,
                   (bit_count(xor(a.sig_hi, b.sig_hi))
                    + bit_count(xor(a.sig_lo, b.sig_lo)))::INTEGER AS hamming
            FROM sigs a JOIN sigs b ON a.id < b.id
            WHERE bit_count(xor(a.sig_hi, b.sig_hi))
                  + bit_count(xor(a.sig_lo, b.sig_lo)) <= 2
            ORDER BY id_a, id_b
        """

#: the synth_grid_media fixture (doc_id < 500): an 8x9 md5 grid per
#: image, top bit of cell (0, 0) flipped for doc_id >= 250, and its
#: dHash ``sigs`` (doc_id, id, sig_hi, sig_lo)
_SQL_IMAGE_SIGS = f"""
            d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
            cells AS (
              SELECT d.doc_id, r.r, c.c,
                     ('0x' || substr(md5(printf('%d-%d-%d',
                          d.doc_id % 250, r.r, c.c)), 1, 2))::INT AS v0
              FROM d, range(8) AS r(r), range(9) AS c(c)),
            adj AS (
              SELECT doc_id, r, c,
                     CASE WHEN r = 0 AND c = 0 AND doc_id >= 250
                          THEN xor(v0, 128) ELSE v0 END AS v
              FROM cells),
            bits AS (
              SELECT a.doc_id, (a.r * 8 + a.c) AS j,
                     CASE WHEN a.v < b.v THEN 1::BIGINT
                          ELSE 0::BIGINT END AS bit
              FROM adj a JOIN adj b
                ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
              WHERE a.c < 8),
            sigs AS (SELECT doc_id, printf('gbmp-%05d', doc_id) AS id,
                       {_SQL_DHASH_FOLD}
                     FROM bits GROUP BY doc_id)"""

#: the synth audio fixture (doc_id < 500, none for doc_id % 10 == 0):
#: 256 md5 samples with a planted spike for doc_id >= 250, 65 window
#: energies (n * 65 // 256) and the envelope hash ``sigs``
_SQL_AUDIO_SIGS = f"""
            d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
            s AS (SELECT d.doc_id, n.n,
                    (('0x' || substr(md5(printf('%d-%d',
                          d.doc_id % 250, n.n)), 1, 2))::BIGINT - 128) * 100
                    + CASE WHEN d.doc_id >= 250 AND n.n >= 252
                           THEN 3000 ELSE 0 END AS v
                  FROM d, range(256) AS n(n)
                  WHERE d.doc_id % 10 != 0),
            e AS (SELECT doc_id, (n * 65) // 256 AS w,
                         SUM(v * v)::BIGINT AS en
                  FROM s GROUP BY doc_id, w),
            bits AS (SELECT a.doc_id, a.w AS j,
                       CASE WHEN a.en < b.en THEN 1::BIGINT
                            ELSE 0::BIGINT END AS bit
                     FROM e a JOIN e b
                       ON a.doc_id = b.doc_id AND b.w = a.w + 1
                     WHERE a.w < 64),
            sigs AS (SELECT doc_id, printf('wav-%05d', doc_id) AS id,
                       {_SQL_DHASH_FOLD}
                     FROM bits GROUP BY doc_id)"""

#: the synth video fixture (doc_id < 500, none for doc_id % 10 == 0):
#: 6 frames of the image grid with a frame axis, the flip on frame 0
#: cell (0, 0) for doc_id >= 250 (``adj``: doc_id, f, r, c, v)
_SQL_VIDEO_FRAMES = """
            d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
            cells AS (
              SELECT d.doc_id, f.f, r.r, c.c,
                     ('0x' || substr(md5(printf('%d-%d-%d-%d',
                          d.doc_id % 250, f.f, r.r, c.c)), 1, 2))::BIGINT
                     AS v0
              FROM d, range(6) AS f(f), range(8) AS r(r), range(9) AS c(c)
              WHERE d.doc_id % 10 != 0),
            adj AS (
              SELECT doc_id, f, r, c,
                     CASE WHEN f = 0 AND r = 0 AND c = 0 AND doc_id >= 250
                          THEN xor(v0, 128) ELSE v0 END AS v
              FROM cells)"""

#: ... and their per-frame dHash ``sigs`` (doc_id, f, sig_hi, sig_lo)
_SQL_VIDEO_SIGS = _SQL_VIDEO_FRAMES + f""",
            bits AS (
              SELECT a.doc_id, a.f, (a.r * 8 + a.c) AS j,
                     CASE WHEN a.v < b.v THEN 1::BIGINT
                          ELSE 0::BIGINT END AS bit
              FROM adj a JOIN adj b
                ON a.doc_id = b.doc_id AND a.f = b.f AND a.r = b.r
               AND b.c = a.c + 1
              WHERE a.c < 8),
            sigs AS (SELECT doc_id, f,
                       {_SQL_DHASH_FOLD}
                     FROM bits GROUP BY doc_id, f)"""


def _sql_solid_decode(codec: str) -> str:
    """Decode check of the solid-color ``codec`` fixture (doc_id < 300;
    ids % 10 == 0 are garbage payloads): size and the red channel
    through a float32 store."""
    return f"""
            WITH m AS (
              SELECT doc_id, printf('{codec}-%05d', doc_id) AS media_ref,
                     (doc_id % 16 + 1)::INT AS w, (doc_id % 8 + 1)::INT AS h,
                     doc_id % 256 AS r
              FROM documents WHERE doc_id < 300)
            SELECT media_ref,
                   (doc_id % 10 != 0) AS ok,
                   (CASE WHEN doc_id % 10 = 0 THEN 0 ELSE w END)::INT AS decoded_width,
                   (CASE WHEN doc_id % 10 = 0 THEN 0 ELSE h END)::INT AS decoded_height,
                   CASE WHEN doc_id % 10 = 0 THEN 0.0
                        ELSE round(CAST(CAST(r AS DOUBLE) / 255.0 AS FLOAT)::DOUBLE, 4)
                   END AS f0
            FROM m
        """


def _sql_jpeg_roundtrip(src: str) -> str:
    """The JPEG codec's color-space round trip of ``src`` (r, g, b
    DOUBLE): ``ycc`` adds y/cb/cr and ``dec`` the decoded r2/g2/b2, with
    the codec's floor(x + 0.5) roundings written out term for term
    (kernels/jpeg.py rgb_to_ycbcr / ycbcr_roundtrip_rgb)."""
    return f"""
            ycc AS (
              SELECT *,
                LEAST(255, GREATEST(0, FLOOR(
                    0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
                LEAST(255, GREATEST(0, FLOOR(
                    -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0 + 0.5)))
                    AS cb,
                LEAST(255, GREATEST(0, FLOOR(
                    0.5 * r - 0.418688 * g - 0.081312 * b + 128.0 + 0.5)))
                    AS cr
              FROM {src}),
            dec AS (
              SELECT *,
                LEAST(255, GREATEST(0, FLOOR(
                    y + 1.402 * (cr - 128.0) + 0.5))) AS r2,
                LEAST(255, GREATEST(0, FLOOR(
                    y - 0.344136 * (cb - 128.0)
                      - 0.714136 * (cr - 128.0) + 0.5))) AS g2,
                LEAST(255, GREATEST(0, FLOOR(
                    y + 1.772 * (cb - 128.0) + 0.5))) AS b2
              FROM ycc)"""


def _sql_media_near_pairs(src: str) -> str:
    """Media near-dup pairs of ``src`` (media_ref, f0..f3): sign-LSH
    bucket of the four features, cosine >= 0.999 within a bucket."""
    return f"""
            v AS (
              SELECT media_ref,
                     [f0, f1, f2, f3, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS v,
                     (CASE WHEN f0 > 0 THEN 1 ELSE 0 END
                      + CASE WHEN f1 > 0 THEN 2 ELSE 0 END
                      + CASE WHEN f2 > 0 THEN 4 ELSE 0 END
                      + CASE WHEN f3 > 0 THEN 8 ELSE 0 END)::BIGINT AS bucket
              FROM {src} WHERE f0 + f1 + f2 + f3 > 0)
            SELECT a.media_ref AS media_a, b.media_ref AS media_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
            FROM v a JOIN v b
              ON a.bucket = b.bucket AND a.media_ref < b.media_ref
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        """


def _spans_over(src: str, p: str) -> str:
    """The synth_interleaved twin (operators/interleaved.py) over the
    (doc_id, text) relation ``src``: block size 4 = 3 text spans of 8
    tokens, then 1 image; position p is media iff (p + 1) % 4 == 0.
    ``{p}sized`` holds the docs with tokens, ``{p}spans`` the spans;
    ``p`` namespaces the chain (span_diff runs two)."""
    return f"""
            {p}tk AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t != '') AS toks
              FROM {src}),
            {p}sized AS (
              SELECT doc_id, toks,
                     CAST(ceil(len(toks) / 8.0) AS BIGINT) AS nc
              FROM {p}tk WHERE len(toks) > 0),
            {p}pos AS (
              SELECT doc_id, toks, unnest(range(0, nc + nc // 3)) AS p
              FROM {p}sized),
            {p}spans AS (
              SELECT doc_id, p::INT AS "offset",
                     CASE WHEN (p + 1) % 4 = 0 THEN 'image'
                          ELSE 'text' END AS kind,
                     CASE WHEN (p + 1) % 4 = 0 THEN NULL
                          ELSE array_to_string(
                                 toks[(((p - (p + 1) // 4) * 8 + 1))::INT
                                      : (((p - (p + 1) // 4) * 8 + 8))::INT],
                                 ' ')
                     END AS text,
                     CASE WHEN (p + 1) % 4 = 0
                          THEN 'img_' || doc_id::VARCHAR || '_'
                               || ((p + 1) // 4)::VARCHAR
                          ELSE NULL END AS media_ref
              FROM {p}pos)"""


_SQL_INTER_SPANS = "\n            WITH" + _spans_over("documents", "")


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_literal()
    # the stored/streamed-counts drift form must EQUAL the batch form
    # over the same rows — one oracle, two Spark plans
    d["corpus_drift_counts"] = d["corpus_drift"]
    # bucketed storage changes the PLAN (one fewer Exchange per
    # iteration), never the rows
    d["link_pagerank_bucketed"] = d["link_pagerank"]
    return d


def _oracle_sql_literal() -> dict[str, str]:
    # Morton interleave of two 8-bit codes, unrolled exactly like
    # plans/layout.zorder_key (x bit j -> key bit 2j, y -> 2j+1)
    zterms = " | ".join(
        f"(((x >> {j}) & 1) << {2 * j}) | (((y >> {j}) & 1) << {2 * j + 1})"
        for j in range(8))
    simhash_votes = ", ".join(
        [f"SUM(CASE WHEN (hv_lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
         for j in range(32)]
        + [f"SUM(CASE WHEN (hv_hi >> {j - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
           for j in range(32, 64)]
    )
    simhash_lo = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(32)
    )
    simhash_hi = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN {2 ** (j - 32)} ELSE 0 END"
        for j in range(32, 64)
    )
    #: shared simhash CTE chain: shingles -> 64-bit votes -> (sig_hi, sig_lo)
    simhash_sig_ctes = f"""
            tok AS (SELECT doc_id, unnest(shset) AS tok FROM sh),
            h AS (SELECT doc_id,
                    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hv_hi,
                    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv_lo
                  FROM tok),
            v AS (SELECT doc_id, {simhash_votes} FROM h GROUP BY doc_id),
            s AS (SELECT doc_id, ({simhash_hi})::BIGINT AS sig_hi,
                         ({simhash_lo})::BIGINT AS sig_lo FROM v)"""
    grid_cells_values = ", ".join(
        f"('grid-doc', {p}, {t}, {r}, {c}, '{cell}', {str(bool(h)).upper()}, "
        f"{conf})"
        for (p, t, r, c, cell, h, conf) in fixtures.expected_grid_cells()
    )
    f8_docs = ["golden-doc-w20552", "parse-normal", "parse-plus",
               "parse-detect", "parse-star", "parse-fracture",
               "parse-toolong", "media-nosample"]
    f8_values = ", ".join(
        f"('{d}', 300, 'Page 300 out of range, skipping')" for d in f8_docs
    )
    meta_values = ", ".join(
        "(" + ", ".join(
            [f"'{doc_id}'"]
            + [f"'{m[f]}'" if f in m else "NULL"
               for f in metadata.METADATA_FIELDS]) + ")"
        for doc_id, m in fixtures.METADATA_DOCS
    )
    header_values = ", ".join(
        f"({page}, {col}, '{h.replace(chr(39), chr(39) * 2)}')"
        for page in (39, 40, 41, 42)
        for col, h in enumerate(GOLDEN_EXTRACTED_HEADERS[:-1])
    )
    # product quantization: one independent integer-lattice Lloyd chain
    # per 16-dim subspace of the 64-dim embeddings (m=4, k=4, iters=2),
    # then per-subspace nearest-codeword encoding (similarity.pq_codes /
    # pq_topk are the Spark twins)
    def _pq_sub_ctes(s: int) -> str:
        sfx = f"_s{s}"
        return (f"""
            e{sfx} AS (SELECT vec_id,
                    list_transform(embedding[{s * 16 + 1}:{(s + 1) * 16}],
                      x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
                  FROM embeddings),""" + _sql_lloyd(sfx) + f""",
            codes{sfx} AS (SELECT vec_id, {s} AS sub, cid AS code FROM (
                     SELECT p.*, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM (
                       SELECT e.vec_id, c.cid, {_sql_d2('e.qv', 'c.cv')} AS d2
                       FROM e{sfx} e CROSS JOIN c2{sfx} c) p)
                   WHERE rn = 1),
            lut{sfx} AS (SELECT {s} AS sub, c.cid,
                     {_sql_d2('q.qv', 'c.cv')}::BIGINT AS d2
                   FROM c2{sfx} c,
                        (SELECT qv FROM e{sfx} WHERE vec_id = 0) q)""")

    pq_ctes = ",".join(_pq_sub_ctes(s) for s in range(4))
    pq_codes_union = " UNION ALL ".join(
        f"SELECT * FROM codes_s{s}" for s in range(4))
    pq_lut_union = " UNION ALL ".join(
        f"SELECT * FROM lut_s{s}" for s in range(4))

    # link-graph fixture edges (id arithmetic, operators/linkgraph.py)
    # + one unrolled integer-lattice PageRank iteration per pr{n} pair
    link_edges_cte = """
            edges AS (
              SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
              WHERE doc_id // 2 != doc_id
              UNION ALL
              SELECT doc_id AS src, doc_id // 3 AS dst FROM documents
              WHERE doc_id // 3 != doc_id)"""

    # blocked chord edges (entry _component_edges): each doc links to
    # an md5-chosen doc of its 16-id block
    chord_cte = """
            ce AS (SELECT doc_id AS src,
                     (doc_id // 16) * 16
                     + (('0x' || substr(md5('cc:' || doc_id::VARCHAR), 1, 8))::BIGINT
                        % 16) AS dst
                   FROM documents)"""

    # shared by link_triangles / link_clustering: union graph (link
    # edges + blocked chords) -> degree-oriented wedge closing ->
    # per-node triangle counts
    triangle_ctes = f"""{link_edges_cte},{chord_cte},
            alle AS (SELECT src, dst FROM edges
                     UNION ALL
                     SELECT src, dst FROM ce
                     WHERE src <> dst
                       AND dst IN (SELECT doc_id FROM documents)),
            und AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                    FROM alle WHERE src <> dst GROUP BY 1, 2),
            deg AS (SELECT n, COUNT(*)::BIGINT AS d
                    FROM (SELECT a AS n FROM und
                          UNION ALL SELECT b AS n FROM und) GROUP BY n),
            orient AS (
              SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
                          THEN und.a ELSE und.b END AS u,
                     CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
                          THEN und.b ELSE und.a END AS v
              FROM und JOIN deg da ON da.n = und.a
                       JOIN deg db ON db.n = und.b),
            ov AS (SELECT o.u, o.v, d.d AS dv
                   FROM orient o JOIN deg d ON d.n = o.v),
            wedges AS (SELECT l.u, l.v AS x, r.v AS y
                       FROM ov l JOIN ov r ON l.u = r.u
                       WHERE l.dv < r.dv OR (l.dv = r.dv AND l.v < r.v)),
            tri AS (SELECT w.u, w.x, w.y FROM wedges w
                    JOIN orient o ON o.u = w.x AND o.v = w.y),
            tn AS (SELECT u AS node_id FROM tri
                   UNION ALL SELECT x FROM tri
                   UNION ALL SELECT y FROM tri),
            tcount AS (SELECT node_id, COUNT(*)::BIGINT AS n_triangles
                       FROM tn GROUP BY node_id)"""

    def _inflow(name: str, prev: str) -> str:
        """Per node, the floor-split rank its in-links pass on from the
        ranks ``prev`` (out-degrees in ``deg``)."""
        return f"""
            {name} AS (SELECT e.dst AS node_id,
                       SUM(p.pr // d.out_deg) AS inflow
                     FROM edges e
                     JOIN {prev} p ON e.src = p.node_id
                     JOIN deg d ON e.src = d.src
                     GROUP BY e.dst)"""

    def _pr_iter(n: int) -> str:
        return _inflow(f"in{n}", f"pr{n - 1}") + f""",
            pr{n} AS (SELECT d.doc_id AS node_id,
                       (150000 + (17 * COALESCE(i.inflow, 0)) // 20)::BIGINT
                         AS pr
                     FROM documents d
                     LEFT JOIN in{n} i ON d.doc_id = i.node_id)"""

    # personalized: teleport mass only on the seed set ``sd``
    def _ppr_iter(n: int) -> str:
        return _inflow(f"in{n}", f"p{n - 1}") + f""",
            p{n} AS (SELECT d.doc_id AS node_id,
                     ((CASE WHEN s.node_id IS NOT NULL THEN 150000 ELSE 0 END)
                      + (17 * COALESCE(i.inflow, 0)) // 20)::BIGINT AS pr
                   FROM documents d LEFT JOIN sd s ON d.doc_id = s.node_id
                   LEFT JOIN in{n} i ON d.doc_id = i.node_id)"""

    pagerank_ctes = (
        link_edges_cte + """,
            deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
            pr0 AS (SELECT doc_id AS node_id, 1000000::BIGINT AS pr
                    FROM documents),"""
        + _pr_iter(1) + "," + _pr_iter(2)
    )

    # dangling-redistribution variant (linkgraph.pagerank
    # redistribute_dangling=True): per iteration the out-linkless
    # nodes' total rank is floor-shared uniformly before damping
    def _prf_iter(n: int) -> str:
        return f"""
            dang{n} AS (SELECT COALESCE(SUM(p.pr), 0)::BIGINT AS ds
                       FROM prf{n - 1} p
                       LEFT JOIN deg d ON p.node_id = d.src
                       WHERE d.src IS NULL),""" + _inflow(f"inf{n}", f"prf{n - 1}") + f""",
            prf{n} AS (SELECT d.doc_id AS node_id,
                        (150000 + (17 * (COALESCE(i.inflow, 0)
                           + dg.ds // nn.n)) // 20)::BIGINT AS pr
                      FROM documents d
                      LEFT JOIN inf{n} i ON d.doc_id = i.node_id
                      CROSS JOIN dang{n} dg CROSS JOIN nn)"""

    pagerank_full_ctes = (
        link_edges_cte + """,
            deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
            nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
            prf0 AS (SELECT doc_id AS node_id, 1000000::BIGINT AS pr
                     FROM documents),"""
        + _prf_iter(1) + "," + _prf_iter(2)
    )

    # raw-HTML markup extraction family (operators/htmlparse.py twin):
    # hsrc replays synth_html verbatim; the parse replays the sentinel
    # rewrite (<p> -> \\x01p\\x02) + split + tag-strip regexes, which are
    # RE2/Java-identical by construction.
    html_ctes = r"""
            WITH hs0 AS (
              SELECT doc_id,
                     replace(replace(coalesce(text, ''), '<', '('),
                             '>', ')') AS s
              FROM documents),
            hs1 AS (
              SELECT doc_id,
                     trim(substr(s, 1, 40)) AS p1a,
                     trim(substr(s, 41, 40)) AS p1b,
                     trim(substr(s, 81, 1000000)) AS p2,
                     CASE WHEN doc_id % 2 = 0
                          THEN '<img src="img-' || doc_id::VARCHAR
                               || '.png">' ELSE '' END AS img,
                     'https://site-' || (doc_id % 7)::VARCHAR
                       || '.example.com' AS site,
                     'https://site-' || ((doc_id + 3) % 7)::VARCHAR
                       || '.example.com/d' || (doc_id % 50)::VARCHAR AS see
              FROM hs0),
            hsrc AS (
              SELECT doc_id, site,
                     '<html><head><title>Doc ' || doc_id::VARCHAR
                     || '</title></head><body>'
                     || '<nav><a href="/about">about</a> <a href="' || site
                     || '/home">home</a></nav>'
                     || '<h1>' || p1a || '</h1>'
                     || '<p>' || p1a || ' ' || img || p1b || '</p>'
                     || CASE WHEN length(p2) > 0
                             THEN '<p>' || p2 || ' <a href="' || see
                                  || '">see also</a></p>'
                             ELSE '' END
                     || '<footer>copyright site-' || (doc_id % 7)::VARCHAR
                     || '</footer></body></html>' AS html
              FROM hs1),
            hparts AS (
              SELECT doc_id,
                     string_split(regexp_replace(html,
                       '<(p|h1|nav|footer|title)>',
                       chr(1) || '\1' || chr(2), 'g'), chr(1)) AS ps
              FROM hsrc),
            hidx AS (
              SELECT doc_id, ps, unnest(range(2, len(ps) + 1)) AS i
              FROM hparts),
            hblocks AS (
              SELECT doc_id, (i - 2)::INT AS idx,
                     split_part(ps[i], chr(2), 1) AS tag,
                     split_part(ps[i], chr(2), 2) AS rest
              FROM hidx),
            hbtext AS (
              SELECT doc_id, idx, tag, rest,
                     trim(regexp_replace(rest, '<[^>]*>', '', 'g')) AS text,
                     coalesce(list_aggregate(list_transform(
                       regexp_extract_all(rest,
                         '<a href="[^"]*">([^<]*)', 1),
                       x -> length(x)), 'sum'), 0)::INT AS anchor_chars
              FROM hblocks)"""

    # Boilerpipe scoring + neighbour smoothing over the parsed blocks
    # (boilerplate.score_blocks twin, windowed replay of the in-array
    # smoothing)
    html_content_cte = """,
            hflag AS (
              SELECT *,
                     (tag NOT IN ('nav','header','footer','aside','script',
                                  'style','form','button'))
                     AND (anchor_chars::DOUBLE
                          / greatest(length(text), 1)) < 0.33 AS good,
                     len(list_filter(string_split(text, ' '),
                                     t -> t != '')) AS n_words
              FROM hbtext),
            hsmooth AS (
              SELECT *, good AND n_words >= 10 AS base,
                        good AND n_words >= 3 AS weak
              FROM hflag),
            hcontent AS (
              SELECT * FROM (
                SELECT *,
                       base OR (weak AND
                         (coalesce(lag(base) OVER w, false)
                          OR coalesce(lead(base) OVER w, false)))
                       AS is_content
                FROM hsmooth
                WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
              WHERE is_content)"""

    def _html_spans_sql(blocks_rel: str) -> str:
        """Span assembly over a parsed-blocks relation: split rest at
        every <img>, image spans at their position, offsets in reading
        order (idx, seg, media-before-tail)."""
        return f""",
            hsegs AS (
              SELECT doc_id, idx,
                     string_split(regexp_replace(rest,
                       '<img src="([^"]*)">',
                       chr(3) || '\\1' || chr(4), 'g'), chr(3)) AS segs
              FROM {blocks_rel}),
            hsegi AS (
              SELECT doc_id, idx, segs,
                     unnest(range(1, len(segs) + 1)) AS j
              FROM hsegs),
            hraw AS (
              SELECT doc_id, idx, j, k,
                     CASE WHEN k = 0 THEN 'image' ELSE 'text' END AS kind,
                     CASE WHEN k = 1 AND j = 1
                          THEN trim(regexp_replace(segs[j],
                                    '<[^>]*>', '', 'g'))
                          WHEN k = 1
                          THEN trim(regexp_replace(
                                 split_part(segs[j], chr(4), 2),
                                 '<[^>]*>', '', 'g'))
                          ELSE NULL END AS text,
                     CASE WHEN k = 0
                          THEN split_part(segs[j], chr(4), 1)
                          ELSE NULL END AS media_ref
              FROM hsegi, (VALUES (0), (1)) AS kk(k)
              WHERE (j = 1 AND k = 1) OR j > 1),
            hspans AS (
              SELECT doc_id, kind, text, media_ref,
                     (row_number() OVER (PARTITION BY doc_id
                        ORDER BY idx, j, k) - 1)::INT AS "offset"
              FROM hraw WHERE kind = 'image' OR text != '')"""

    html_links_cte = """,
            hlinks AS (
              SELECT doc_id, href,
                     CASE WHEN href LIKE '/%' THEN site || href
                          WHEN href LIKE 'http%' THEN href
                          ELSE NULL END AS url
              FROM (SELECT doc_id, site,
                           unnest(regexp_extract_all(html,
                             '<a href="([^"]*)"', 1)) AS href
                    FROM hsrc))"""

    return {
        # ---- raw-HTML markup extraction ------------------------------------
        "html_parse_blocks": html_ctes + """
            SELECT doc_id, idx, tag, text, anchor_chars FROM hbtext
        """,
        "html_spans": html_ctes + _html_spans_sql("hbtext") + """
            SELECT doc_id, "offset", kind, text, media_ref FROM hspans
        """,
        "html_main_spans": (html_ctes + html_content_cte
                            + _html_spans_sql("hcontent") + """
            SELECT doc_id, "offset", kind, text, media_ref FROM hspans
        """),
        "html_links": html_ctes + html_links_cte + """
            SELECT doc_id, href, url FROM hlinks
        """,
        "html_link_census": html_ctes + html_links_cte + """
            SELECT regexp_extract(url, 'https://([^/]+)', 1) AS dst_site,
                   count(*)::BIGINT AS n_links,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   sum(CASE WHEN href LIKE '/%' THEN 1 ELSE 0 END)::BIGINT
                     AS n_relative
            FROM hlinks GROUP BY 1
        """,
        "html_meta": html_ctes + """
            SELECT doc_id,
                   'Doc ' || doc_id::VARCHAR AS title,
                   p1a AS h1,
                   (2 + CASE WHEN length(p2) > 0 THEN 1 ELSE 0 END)::INT
                     AS n_links,
                   doc_id % 2 = 0 AS has_img,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'img-' || doc_id::VARCHAR || '.png'
                        END AS first_img
            FROM hs1
        """,
        "html_sections": html_ctes + """
            SELECT doc_id, idx, tag, text,
                   last_value(CASE WHEN tag = 'h1' THEN text END
                              IGNORE NULLS)
                     OVER (PARTITION BY doc_id ORDER BY idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS section
            FROM hbtext
        """,
        "html_table_cells": """
            WITH t AS (
              SELECT doc_id, unnest(generate_series(0, doc_id % 2)) AS ti
              FROM documents),
            r AS (
              SELECT doc_id, ti,
                     unnest(generate_series(0, (doc_id + ti) % 3 + 1)) AS ri
              FROM t),
            c AS (
              SELECT doc_id, ti, ri,
                     unnest(generate_series(0, (doc_id + ti) % 2 + 1)) AS ci
              FROM r)
            SELECT doc_id, ti::INT AS table_idx, ri::INT AS row_idx,
                   ci::INT AS col_idx,
                   'v' || ((doc_id*31 + ti*13 + ri*7 + ci*3) % 997)::VARCHAR
                     AS cell
            FROM c
        """,
        # ---- round-5 close-out batch --------------------------------------
        "interval_error_clicks": """
            WITH err AS (
              SELECT user_id, event_id AS err_id, ts AS lo,
                     ts + INTERVAL 3600 SECOND AS hi
              FROM events WHERE event_type = 'error'),
            c AS (
              SELECT user_id, event_id, ts
              FROM events WHERE event_type = 'click')
            SELECT c.user_id, c.event_id, COUNT(*)::BIGINT AS n_windows,
                   MIN(err.err_id) AS first_err_id
            FROM c JOIN err ON c.user_id = err.user_id
                           AND c.ts >= err.lo AND c.ts <= err.hi
            GROUP BY 1, 2
        """,
        "heavy_hitter_tokens": """
            WITH t AS (
              SELECT unnest(list_filter(string_split(text, ' '),
                                        x -> x != '')) AS token
              FROM documents)
            SELECT token, COUNT(*)::BIGINT AS n_occurrences
            FROM t GROUP BY token HAVING COUNT(*) >= 500
        """,
        "containment_pairs": f"""
            WITH {_SQL_SNIPPET_CORPUS},
            sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(toks) >= 5
                     THEN list_transform(generate_series(1, len(toks) - 4),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               || ' ' || toks[i+3] || ' ' || toks[i+4])
                     ELSE [text] END) AS shset
              FROM corpus),
            sized AS (SELECT doc_id, len(shset)::BIGINT AS n_sh, shset FROM sh),
            ex AS (SELECT doc_id, n_sh, unnest(shset) AS h FROM sized),
            dfreq AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
            ok AS (SELECT ex.doc_id, ex.n_sh, ex.h
                   FROM ex JOIN dfreq USING (h)
                   WHERE dfreq.df BETWEEN 2 AND 16),
            pr AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.n_sh AS n_a, b.n_sh AS n_b,
                     COUNT(*)::BIGINT AS n_shared
              FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b, n_shared,
                   (n_shared * 1000000) // n_a AS cont_a_micro,
                   (n_shared * 1000000) // n_b AS cont_b_micro
            FROM pr
            WHERE greatest((n_shared * 1000000) // n_a,
                           (n_shared * 1000000) // n_b) >= 500000
        """,
        "winnow_pairs": "WITH " + _SQL_WINNOW_PAIRS + """
            SELECT id_a, id_b, n_shared FROM wpr
        """,
        "dedup_corpus_winnow": ("WITH RECURSIVE " + _SQL_WINNOW_PAIRS + ","
                                + _sql_components("wpr") + """
            SELECT c.doc_id, length(c.text)::INT AS n_chars
            FROM corpus c LEFT JOIN minlab m ON m.doc_id = c.doc_id
            WHERE m.doc_id IS NULL OR m.label = c.doc_id
        """),
        # ---- extraction: golden-artifact oracles --------------------------
        "extract_flagship": f"""
            SELECT doc_id, kind, text, media_ref, "offset"
            FROM '{GOLDEN}/golden_extracted_spans.parquet'
        """,
        "dedup_exact_normalized": r"""
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     upper(text) || ' !!' AS text
              FROM documents WHERE doc_id < 40),
            n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text),
                          '[!-/:-@\[-`{-~]', '', 'g'), ' +', ' ', 'g'))
                       AS text
              FROM u)
            SELECT md5(text) AS content_hash,
                   COUNT(*)::BIGINT AS dup_count,
                   MIN(doc_id) AS canonical_id
            FROM n GROUP BY md5(text) HAVING COUNT(*) > 1
        """,
        "c1_classify_golden": f"""
            SELECT page, page_type
            FROM '{GOLDEN}/golden_page_classification.parquet'
        """,
        "p2_samples_golden": f"""
            SELECT row_idx, core_number, sample_number, depth_feet,
                   permeability_air_md, permeability_klink_md,
                   porosity_ambient_pct, porosity_ncs_pct, grain_density_gcc,
                   saturation_water_pct, saturation_oil_pct,
                   saturation_total_pct, page_number
            FROM '{GOLDEN}/golden_table_rows.parquet'
        """,
        "h1_headers_golden": f"""
            SELECT * FROM (VALUES {header_values}) AS t(page, col, header)
        """,
        "c2_structural_spans": """
            SELECT * FROM (VALUES
              ('classify-plot',  1, 'cover', 0.6),
              ('classify-cover', 1, 'cover', 0.6),
              ('classify-text',  1, 'narrative', 0.8),
              ('classify-other', 1, 'blank', 0.95),
              ('classify-table', 1, 'table', 0.9)
            ) AS t(doc_id, page, page_type, confidence)
        """,
        "table_grid_cells": f"""
            SELECT * FROM (VALUES {grid_cells_values})
            AS t(doc_id, page, table_index, row_idx, col_idx, cell,
                 is_header, confidence)
        """,
        "table_consolidated": """
            SELECT * FROM (VALUES
              ('grid-doc', 'Alpha|Beta|Gamma', 4, 2, 0, 'a1|b1 extra|c1'),
              ('grid-doc', 'Alpha|Beta|Gamma', 4, 2, 1, 'a3||c3')
            ) AS t(doc_id, headers_joined, n_tables, n_rows, row_idx,
                   row_joined)
        """,
        "f8_page_range": f"""
            SELECT * FROM (VALUES {f8_values}) AS t(doc_id, page, warning)
        """,
        "a8_depth_summary": f"""
            SELECT round(min(depth_feet::DOUBLE), 2) AS min_depth,
                   round(max(depth_feet::DOUBLE), 2) AS max_depth,
                   count(*)::BIGINT AS n_samples
            FROM '{GOLDEN}/golden_table_rows.parquet'
        """,
        "s5_doc_metadata": f"""
            SELECT * FROM (VALUES {meta_values})
            AS t(doc_id, {', '.join(metadata.METADATA_FIELDS)})
        """,
        "span_search": """
            SELECT doc_id,
                   position('the' IN text) AS pos,
                   substr(text, position('the' IN text), 40) AS snippet
            FROM documents
            WHERE text LIKE '%the%'
            ORDER BY doc_id LIMIT 100
        """,
        "span_kind_census": """
            WITH sp AS (
              SELECT doc_id, 'text' AS kind, text AS content FROM documents
              UNION ALL
              SELECT doc_id, 'path', 'm 10 10;l 90 10;l 90 90;h'
              FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id, 'curve', 'm 5 5;c 10 10 40 40 50 50'
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id, 'annotation', 'note ' || doc_id
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id, 'line', ''
              FROM documents WHERE doc_id % 11 = 0)
            SELECT kind, COUNT(*)::BIGINT AS n_spans,
                   COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                   SUM(CASE WHEN kind IN ('path', 'curve', 'annotation')
                                 AND content <> ''
                            THEN len(string_split(content, ';'))
                            ELSE 0 END)::BIGINT AS total_items
            FROM sp GROUP BY kind ORDER BY kind
        """,
        "h2_verify_golden": """
            SELECT * FROM (VALUES
              ('golden-doc-w20552', TRUE, 39, 4::BIGINT, 0::BIGINT),
              ('parse-normal',   TRUE, 39, 1::BIGINT, 0::BIGINT),
              ('parse-plus',     TRUE, 39, 1::BIGINT, 0::BIGINT),
              ('parse-detect',   TRUE, 39, 1::BIGINT, 0::BIGINT),
              ('parse-star',     TRUE, 39, 1::BIGINT, 0::BIGINT),
              ('parse-fracture', TRUE, 39, 1::BIGINT, 0::BIGINT)
            ) AS t(doc_id, verified, reference_page, pages_checked, n_mismatches)
        """,
        # ---- relational ----------------------------------------------------
        "a0_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "a12_rollup": """
            SELECT coalesce(l_returnflag, '(all)') AS returnflag,
                   coalesce(l_linestatus, '(all)') AS linestatus,
                   count(*)::BIGINT AS n_rows,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY returnflag, linestatus
        """,
        "j1_broadcast_join": """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "j_semi_anti": """
            SELECT 'with_orders' AS kind, count(*) AS n_customers FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            UNION ALL
            SELECT 'without_orders' AS kind, count(*) AS n_customers FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "o3_topk_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "j5_levenshtein_pairs": """
            WITH t AS (SELECT DISTINCT p_type FROM part)
            SELECT a.p_type AS p_type_a, b.p_type AS p_type_b,
                   levenshtein(a.p_type, b.p_type) AS lev
            FROM t a JOIN t b ON a.p_type < b.p_type
            WHERE levenshtein(a.p_type, b.p_type) <= 8
        """,
        # ---- windows / sequences ------------------------------------------
        "w1_lead_boundary": """
            WITH w AS (
              SELECT user_id, event_id, event_type,
                     lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
                     lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
              FROM events)
            SELECT user_id, event_id FROM w
            WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        """,
        "w2_cumsum_sessions": """
            WITH s AS (
              SELECT user_id, value,
                     (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS session_id
              FROM events)
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM s GROUP BY user_id, session_id
        """,
        "w3_reading_order": """
            WITH w AS (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS order_rank
              FROM events)
            SELECT user_id, order_rank, event_id FROM w WHERE order_rank <= 3
        """,
        "a1_group_concat": """
            SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq
            FROM events GROUP BY user_id
        """,
        "a7_gap_regularity": f"""
            WITH ms AS (
              SELECT user_id, event_id, ts, {_SQL_MS} AS ms FROM events),
            g AS (
              SELECT user_id,
                     ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM ms),
            g2 AS (
              SELECT user_id, gap, avg(gap) OVER (PARTITION BY user_id) AS avg_gap
              FROM g WHERE gap IS NOT NULL)
            SELECT user_id, round(avg(gap), 4) AS mean_gap_ms,
                   round(avg(CASE WHEN gap >= 0.5 * avg_gap AND gap <= 1.5 * avg_gap
                                  THEN 1.0 ELSE 0.0 END), 6) AS regular_share
            FROM g2 GROUP BY user_id
        """,
        "f3_band_histogram": """
            SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events WHERE value BETWEEN 5 AND 50
            GROUP BY event_type
        """,
        # ---- classification + scalar functions -----------------------------
        "c1_keyword_cascade": f"""
            WITH p AS (SELECT doc_id, coalesce({_SQL_PAGE_TEXT}, '') AS page_text
                       FROM documents),
            s AS (SELECT doc_id, page_text, {_SQL_SCORE} AS score,
                         length(page_text) AS len FROM p)
            SELECT doc_id,
              CASE
                WHEN contains(upper(page_text), 'SUMMARY OF ROUTINE CORE ANALYSES') THEN 'table'
                WHEN contains(upper(page_text), 'PROFILE PLOT')
                  OR contains(upper(page_text), 'VERSUS POROSITY')
                  OR contains(upper(page_text), 'CROSS PLOT') THEN 'plot'
                WHEN contains(upper(page_text), 'CORE ANALYSIS REPORT')
                  OR contains(upper(page_text), 'TABLE OF CONTENTS') THEN 'cover'
                WHEN score >= 3 THEN 'table'
                WHEN len < 50 THEN 'other'
                WHEN len > 500 AND score = 0 THEN 'text'
                ELSE 'other' END AS page_type,
              CASE
                WHEN contains(upper(page_text), 'SUMMARY OF ROUTINE CORE ANALYSES') THEN 0.95
                WHEN contains(upper(page_text), 'PROFILE PLOT')
                  OR contains(upper(page_text), 'VERSUS POROSITY')
                  OR contains(upper(page_text), 'CROSS PLOT') THEN 0.85
                WHEN contains(upper(page_text), 'CORE ANALYSIS REPORT')
                  OR contains(upper(page_text), 'TABLE OF CONTENTS') THEN 0.80
                WHEN score >= 3 THEN 0.70
                WHEN len < 50 THEN 0.60
                WHEN len > 500 AND score = 0 THEN 0.65
                ELSE 0.50 END AS confidence,
              CASE
                WHEN contains(upper(page_text), 'SUMMARY OF ROUTINE CORE ANALYSES')
                  THEN 'Contains ''SUMMARY OF ROUTINE CORE ANALYSES'''
                WHEN contains(upper(page_text), 'PROFILE PLOT')
                  THEN 'Contains plot keyword: PROFILE PLOT'
                WHEN contains(upper(page_text), 'VERSUS POROSITY')
                  THEN 'Contains plot keyword: VERSUS POROSITY'
                WHEN contains(upper(page_text), 'CROSS PLOT')
                  THEN 'Contains plot keyword: CROSS PLOT'
                WHEN contains(upper(page_text), 'CORE ANALYSIS REPORT')
                  THEN 'Contains cover keyword: CORE ANALYSIS REPORT'
                WHEN contains(upper(page_text), 'TABLE OF CONTENTS')
                  THEN 'Contains cover keyword: TABLE OF CONTENTS'
                WHEN score >= 3 THEN 'Contains ' || score || ' table keywords'
                WHEN len < 50 THEN 'Minimal extractable text'
                WHEN len > 500 AND score = 0 THEN 'Dense text without table markers'
                ELSE 'Unable to classify' END AS reason
            FROM s
        """,
        "a5_keyword_score": f"""
            WITH p AS (SELECT doc_id, {_SQL_PAGE_TEXT} AS page_text FROM documents)
            SELECT doc_id, {_SQL_SCORE} AS kw_score FROM p
        """,
        "x_scalar_suite": """
            SELECT doc_id,
              trim(regexp_replace('  ' || substr(text, 1, 15) || '   '
                   || substr(text, 16, 15) || '  ', '\\s+', ' ', 'g')) AS norm_text,
              upper(substr(text, 1, 20)) AS upper_text,
              rtrim(substr(text, 1, 10) || ',,', ',') AS rtrim_comma,
              regexp_extract(
                (doc_id % 30 + 1) || '-' || (doc_id % 9 + 1) ||
                CASE doc_id % 3 WHEN 0 THEN '(f)' WHEN 1 THEN '(F)' ELSE '' END,
                '\\((f|F)\\)$', 1) AS fracture,
              CASE
                WHEN r IN ('+', '**', '-', '<0.0001', '<') THEN r
                WHEN substr(r, 1, 1) IN ('=', '+', '-', '@') THEN '''' || r
                ELSE r END AS sanitized,
              ds AS depth_str,
              replace(ds, ',', '')::DOUBLE AS depth_val
            FROM (
              SELECT *,
                CASE doc_id % 6 WHEN 0 THEN '=SUM(A1)' WHEN 1 THEN '+'
                     WHEN 2 THEN '-1' WHEN 3 THEN '@cmd' WHEN 4 THEN '<0.0001'
                     ELSE 'plain' END AS r,
                (doc_id % 9 + 1) || ',' || lpad(((doc_id * 37) % 1000)::VARCHAR, 3, '0')
                  || '.' || lpad(((doc_id * 13) % 100)::VARCHAR, 2, '0') AS ds
              FROM documents)
        """,
        "x10_json_roundtrip": """
            SELECT event_id,
                   '{"event_id":' || event_id || ',"event_type":"' || event_type
                     || '"}' AS json_str,
                   event_type AS rt_type
            FROM events WHERE event_id < 500
        """,
        "o4_pagination": """
            SELECT event_id, user_id, event_type FROM events
            ORDER BY event_id LIMIT 50 OFFSET 100
        """,
        "a11_distinct_agg": """
            SELECT source,
                   string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY source
        """,
        # ---- dedup ---------------------------------------------------------
        "dedup_exact": """
            SELECT md5(substr(text, 1, 32)) AS content_hash,
                   count(*) AS dup_count, min(doc_id) AS canonical_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_paragraphs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS w
              FROM documents),
            wrapped AS (
              SELECT doc_id,
                     array_to_string(w[1:len(w)//2], ' ') || chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10)
                          ELSE '' END ||
                     array_to_string(w[len(w)//2+1:len(w)], ' ') AS text
              FROM t),
            base AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                     FROM wrapped),
            paras AS (
              SELECT doc_id, unnest(ls) AS para,
                     unnest(generate_series(1, len(ls))) AS pos
              FROM base),
            flagged AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY md5(para)
                                        ORDER BY doc_id, pos) = 1 AS keep
              FROM paras WHERE para != '')
            SELECT doc_id,
                   coalesce(string_agg(para, chr(10) ORDER BY pos)
                            FILTER (WHERE keep), '') AS clean_text,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                   sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_minhash_pairs": f"""
            WITH {_SQL_SHINGLE_BASE},{_SQL_MINHASH_KEYS},{_SQL_MINHASH_CAND}
            SELECT id_a, id_b FROM cand
        """,
        # estimator-quality diagnostic: signature-agreement Jaccard
        # estimate vs exact shingle-set Jaccard for every banded
        # candidate pair (operators/dedup.minhash_estimate_pairs)
        "dedup_minhash_est": f"""
            WITH {_SQL_SHINGLE_BASE},{_SQL_MINHASH_KEYS},{_SQL_MINHASH_CAND},
            sc AS (
              SELECT c.id_a, c.id_b,
                     ({" + ".join(f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(8))})::BIGINT AS n_agree,
                     len(list_intersect(sa.shset, sb.shset))::BIGINT AS inter_n,
                     len(sa.shset)::BIGINT AS la, len(sb.shset)::BIGINT AS lb
              FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                          JOIN sig sb ON sb.doc_id = c.id_b)
            SELECT id_a, id_b, n_agree,
                   ((n_agree * 1000000) // 8)::BIGINT AS est_micro,
                   ((inter_n * 1000000) // (la + lb - inter_n))::BIGINT AS jaccard_micro
            FROM sc ORDER BY id_a, id_b
        """,
        # self-trained multinomial NB language classifier, confusion
        # matrix (operators/textanalysis.nb_classify): Laplace-smoothed
        # counts, quantized-log integer scores, argmax ties by class
        "nb_confusion": "WITH " + _sql_nb_confusion("documents", "documents"),
        # out-of-fold NB: the split_leakage_safe chain assigns splits,
        # the NB chain trains (counts, vocab, priors) on 'train' rows
        # ONLY and scores the 'test' rows (textanalysis.nb_classify
        # train_docs=)
        "nb_holdout_confusion": _SQL_LEAKAGE_SAFE_SPLIT + """,
            tr AS (SELECT d.* FROM documents d
                   JOIN sp ON sp.doc_id = d.doc_id AND sp.split = 'train'),
            te AS (SELECT d.* FROM documents d
                   JOIN sp ON sp.doc_id = d.doc_id AND sp.split = 'test'),"""
                                + _sql_nb_confusion("tr", "te"),
        # leakage-safe split: the dedup_corpus_cc label chain, then the
        # sample_split bucket rule applied to the component LABEL so
        # near-dup components co-travel (operators/sampling.
        # leakage_safe_split)
        "split_leakage_safe": _SQL_LEAKAGE_SAFE_SPLIT + """
            SELECT doc_id, split FROM sp
        """,
        "dedup_incremental": f"""
            WITH {_SQL_SHINGLE_BASE},{_SQL_MINHASH_KEYS}
            SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS indexed_id
            FROM keys n JOIN keys i
              ON n.band = i.band AND n.band_key = i.band_key
            WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
        """,
        "dedup_jaccard_pairs": f"""
            WITH {_SQL_SHINGLE_BASE},
            blocked AS (SELECT doc_id, lang, n_chars // 100 AS blk, shset FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                {_sql_jaccard('a', 'b')} AS jaccard
              FROM blocked a JOIN blocked b
                ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
        """,
        "url_normalize": f"""
            WITH {_SQL_URL_CTES}
            SELECT doc_id, url_norm, apex_domain FROM n
            WHERE doc_id < 400 ORDER BY doc_id
        """,
        "url_dedup_groups": f"""
            WITH {_SQL_URL_CTES}
            SELECT url_norm, COUNT(*)::BIGINT AS n_docs,
                   MIN(doc_id) AS keep_id,
                   array_to_string(list_sort(list(doc_id))[1:1024], ',') AS dup_ids
            FROM n GROUP BY url_norm HAVING COUNT(*) > 1
            ORDER BY url_norm
        """,
        "url_blocklist_flags": f"""
            WITH {_SQL_URL_CTES},
            bl(domain, category) AS (
              VALUES ('ex9.com', 'ads'), ('ex9.com', 'malware'),
                     ('ex1.com.au', 'tracking'),
                     ('site5.ex8.com', 'adult')),
            cand AS (
              SELECT doc_id, unnest(list_distinct(list_filter(
                list_transform(
                  range(1, len(string_split(host_nowww, '.')) + 1),
                  k -> array_to_string(
                    string_split(host_nowww, '.')[-k:], '.')),
                c -> c != ''))) AS c
              FROM norm WHERE doc_id < 400),
            hits AS (
              SELECT cand.doc_id, bl.category
              FROM cand JOIN bl ON cand.c = lower(bl.domain))
            SELECT u.doc_id,
                   count(h.category) > 0 AS blocked,
                   coalesce(array_to_string(list_sort(
                     list(DISTINCT h.category)
                       FILTER (WHERE h.category IS NOT NULL)), ','), '')
                     AS categories
            FROM u LEFT JOIN hits h ON h.doc_id = u.doc_id
            WHERE u.doc_id < 400
            GROUP BY u.doc_id
            ORDER BY u.doc_id
        """,
        "domain_caps": f"""
            WITH {_SQL_URL_CTES},
            r AS (SELECT doc_id, apex_domain,
                    ROW_NUMBER() OVER (PARTITION BY apex_domain
                                       ORDER BY doc_id)::INTEGER AS domain_rank
                  FROM n)
            SELECT doc_id, apex_domain, domain_rank FROM r
            WHERE domain_rank <= 3 ORDER BY apex_domain, domain_rank
        """,
        "domain_stats": f"""
            WITH {_SQL_URL_CTES}
            SELECT apex_domain, COUNT(*)::BIGINT AS n_docs,
                   COUNT(DISTINCT url_norm)::BIGINT AS n_urls
            FROM n GROUP BY apex_domain
            ORDER BY n_docs DESC, apex_domain
        """,
        # PSL-snapshot longest-suffix-match: candidate last-k-label
        # slices checked longest-first against the suffix VALUES table,
        # registered domain = match + one label, default rule = last two
        "url_psl_domains": f"""
            WITH u(doc_id, url) AS (VALUES {", ".join(
                f"({i}::BIGINT, '{u}')" for i, u in _PSL_DEMO_URLS)}),
            sfx(suffix) AS (VALUES {", ".join(
                f"('{s}')" for s in _PSL_DEMO_SUFFIXES)}),
            h AS (SELECT doc_id, url,
                    regexp_replace(regexp_replace(
                      lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1)),
                      ':\\d+$', ''), '^www\\.', '') AS host FROM u),
            lv AS (SELECT doc_id, url, host,
                     regexp_extract(host, '([^.]+)$', 1) AS l1,
                     regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS l2,
                     regexp_extract(host,
                       '([^.]+\\.[^.]+\\.[^.]+)$', 1) AS l3,
                     regexp_extract(host,
                       '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) AS l4,
                     regexp_extract(host,
                       '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) AS l5
                   FROM h)
            SELECT doc_id, url,
              CASE WHEN l4 IN (SELECT suffix FROM sfx) THEN l5
                   WHEN l3 IN (SELECT suffix FROM sfx) THEN l4
                   WHEN l2 IN (SELECT suffix FROM sfx) THEN l3
                   WHEN l1 IN (SELECT suffix FROM sfx) THEN l2
                   ELSE l2 END AS apex_domain
            FROM lv ORDER BY doc_id
        """,
        "url_suffix_domains": f"""
            WITH u(doc_id, url) AS (VALUES {", ".join(
                f"({i}::BIGINT, '{u}')" for i, u in _SUFFIX_DEMO_URLS)}),
            h AS (SELECT doc_id, url,
                    regexp_replace(regexp_replace(
                      lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1)),
                      ':\\d+$', ''), '^www\\.', '') AS host FROM u)
            SELECT doc_id, url,
              CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                         IN ({_SQL_SUFFIX_LIST})
                       AND regexp_extract(host,
                             '([^.]+\\.[^.]+\\.[^.]+)$', 1) != ''
                   THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                   ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
              END AS apex_domain
            FROM h ORDER BY doc_id
        """,
        "dedup_simhash": f"""
            WITH {_SQL_SHINGLE_BASE},
            {simhash_sig_ctes}
            SELECT doc_id, sig_hi, sig_lo FROM s
        """,
        "dedup_simhash_pairs": f"""
            WITH {_SQL_SHINGLE_BASE},
            {simhash_sig_ctes},
            bands AS (
              SELECT doc_id, sig_hi, sig_lo, band,
                CASE band WHEN 0 THEN sig_lo & 65535
                          WHEN 1 THEN (sig_lo >> 16) & 65535
                          WHEN 2 THEN sig_hi & 65535
                          ELSE (sig_hi >> 16) & 65535 END AS band_val
              FROM s, (SELECT unnest([0, 1, 2, 3]) AS band) bs),
            p AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sig_hi AS ha, a.sig_lo AS la,
                     b.sig_hi AS hb, b.sig_lo AS lb
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   (bit_count(xor(ha, hb)) + bit_count(xor(la, lb)))::INTEGER
                     AS hamming
            FROM p
            WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3
        """,
        "dedup_corpus": f"""
            WITH {_SQL_LSH_VERIFIED}
            SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM verified v WHERE v.id_b = d.doc_id)
        """,
        "dedup_corpus_cc": _SQL_LSH_COMPONENTS + """
            SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
            LEFT JOIN minlab m ON m.doc_id = d.doc_id
            WHERE m.doc_id IS NULL OR m.label = d.doc_id
        """,
        # same CC chain, but reporting the component-size histogram
        # (singletons = docs with no minlab row, size 1)
        "dedup_cluster_sizes": _SQL_LSH_COMPONENTS + "," + _SQL_COMPONENT_LABELS + """,
            cs AS (SELECT label, COUNT(*)::INT AS cluster_size
                   FROM lab GROUP BY label)
            SELECT cluster_size, COUNT(*)::BIGINT AS n_clusters,
                   SUM(cluster_size)::BIGINT AS n_docs
            FROM cs GROUP BY cluster_size
        """,
        "dedup_corpus_cc_best": _SQL_LSH_COMPONENTS + "," + _SQL_COMPONENT_LABELS + """,
            win AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (PARTITION BY label
                                        ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM lab)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d JOIN win w ON w.doc_id = d.doc_id AND w.rn = 1
        """,
        "epoch_shards": """
            WITH k AS (
              SELECT doc_id,
                     ('0x' || substr(md5('e1:' || doc_id), 1, 8))::BIGINT
                       AS shuffle_key
              FROM documents),
            s AS (SELECT doc_id, (shuffle_key % 8)::INT AS shard, shuffle_key
                  FROM k)
            SELECT doc_id, shard,
                   (ROW_NUMBER() OVER (PARTITION BY shard
                                       ORDER BY shuffle_key, doc_id) - 1)::BIGINT
                     AS pos
            FROM s
        """,
        "dedup_embedding_pairs": f"""
            WITH b AS (
              SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket
              FROM embeddings)
            SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                bb.embedding::DOUBLE[]), 6)
                     AS cosine_sim
            FROM b a JOIN b bb
              ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               bb.embedding::DOUBLE[]), 6) >= 0.35
        """,
        # ---- similarity ----------------------------------------------------
        "sim_topk_cosine": f"""
            WITH {_SQL_QUERY_VEC},{_SQL_EXACT_TOP10}
            SELECT vec_id, cosine_sim FROM exact
        """,
        "ann_kmeans_centroids": f"""
            WITH {_SQL_KMEANS},
            flat AS (SELECT cid, unnest(generate_series(1, len(cv))) AS i, cv
                     FROM c2)
            SELECT cid, (i - 1)::INT AS dim, cv[i]::BIGINT AS cv_val
            FROM flat
        """,
        "cluster_profile": f"""
            WITH {_SQL_KMEANS_ASSIGN}
            SELECT cid, COUNT(*)::BIGINT AS n_vecs,
                   SUM(d2)::BIGINT AS inertia,
                   round(SUM(d2)::BIGINT / COUNT(*), 6) AS avg_d2
            FROM a3 GROUP BY cid ORDER BY cid
        """,
        # batch k-NN join: same trained-IVF replay, but probes and the
        # final rank window run PER QUERY of the 5-vector batch
        "knn_join_topk": f"""
            WITH {_SQL_KMEANS_ASSIGN},
            probes AS (SELECT query_id, cid FROM (
                     SELECT vec_id AS query_id, cid, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS rn
                     FROM p3 WHERE vec_id % 100 = 0)
                   WHERE rn <= 2),
            qs AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id % 100 = 0),
            cand AS (SELECT p.query_id, a3.vec_id, a3.cid,
                       round(list_cosine_similarity(a3.embedding::DOUBLE[],
                             q.q_emb::DOUBLE[]), 6) AS cosine_sim
                     FROM a3 JOIN probes p USING (cid)
                          JOIN qs q ON p.query_id = q.query_id
                     WHERE a3.vec_id <> p.query_id)
            SELECT query_id, vec_id, cid, cosine_sim, rank FROM (
              SELECT cand.*, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id ASC)::BIGINT AS rank
              FROM cand)
            WHERE rank <= 5 ORDER BY query_id, rank
        """,
        # int8 scalar quantization: per-dim min-max bounds, integer
        # floor-div codes, midpoint reconstruction, asymmetric L2
        "ann_sq8_topk": f"""
            WITH {_sql_embedding_lattice('e')},{_SQL_SQ8},{_SQL_SQ8_TOP10}
            SELECT vec_id, sq_d2 FROM appr
        """,
        "sq8_recall": f"""
            WITH {_sql_embedding_lattice('e')},{_SQL_SQ8},{_SQL_SQ8_TOP10},
            exact AS (SELECT e.vec_id, {_sql_d2('e.qv', 'q.qqv')}::BIGINT AS d2
                      FROM e, q WHERE e.vec_id <> 0
                      ORDER BY d2 ASC, vec_id ASC LIMIT 10){_SQL_RECALL_AT_10}""",
        "ann_ivf_topk": f"""
            WITH {_SQL_KMEANS_ASSIGN},{_SQL_QUERY_VEC},{_SQL_IVF_TOP10}
            SELECT vec_id, cid, cosine_sim FROM appr
        """,
        # recall@10 of IVF(4 cells, nprobe 2) vs exact brute force —
        # the estimator-quality diagnostic of the ANN family
        # (composes the ann_ivf_topk and sim_topk_cosine chains)
        "ann_recall": f"""
            WITH {_SQL_KMEANS_ASSIGN},{_SQL_QUERY_VEC},{_SQL_IVF_TOP10},
            {_SQL_EXACT_TOP10}{_SQL_RECALL_AT_10}""",
        "ann_ivf_sampled": f"""
            WITH {_sql_embedding_lattice('efull')},
            e AS (SELECT * FROM efull
                  WHERE ('0x' || substr(md5('0:' || vec_id), 1, 8))::BIGINT
                        % 1000000 < 500000),{_sql_lloyd('')},{_sql_assign('efull')},
            {_SQL_QUERY_VEC},{_SQL_IVF_TOP10}
            SELECT vec_id, cid, cosine_sim FROM appr
        """,
        "ann_pq_codes": f"""
            WITH {pq_ctes}
            SELECT vec_id, sub, code FROM ({pq_codes_union})
        """,
        "ann_pq_topk": f"""
            WITH {pq_ctes},
            codes AS ({pq_codes_union}),
            lut AS ({pq_lut_union})
            SELECT codes.vec_id, SUM(lut.d2)::BIGINT AS adc_d2
            FROM codes JOIN lut
              ON codes.sub = lut.sub AND codes.code = lut.cid
            WHERE codes.vec_id <> 0
            GROUP BY codes.vec_id
            ORDER BY adc_d2 ASC, vec_id ASC LIMIT 10
        """,
        # IVFADC = the coarse-quantizer chain (assignments + probes, as
        # in ann_ivf_topk) gating the PQ/ADC chain (codes + LUT, as in
        # ann_pq_topk): ADC distances are summed only for vectors whose
        # coarse cell is among the nprobe=2 probed cells
        "ann_ivfadc_topk": f"""
            WITH {_SQL_KMEANS_ASSIGN},{_SQL_PROBES},
            {pq_ctes},
            codes AS ({pq_codes_union}),
            lut AS ({pq_lut_union})
            SELECT codes.vec_id, a3.cid, SUM(lut.d2)::BIGINT AS adc_d2
            FROM codes
            JOIN a3 ON codes.vec_id = a3.vec_id
            JOIN probes USING (cid)
            JOIN lut ON codes.sub = lut.sub AND codes.code = lut.cid
            WHERE codes.vec_id <> 0
            GROUP BY codes.vec_id, a3.cid
            ORDER BY adc_d2 ASC, codes.vec_id ASC LIMIT 10
        """,
        # IVF-SQ: the coarse probe (kmeans CTEs, shared with ivfadc)
        # composed with the SQ8 quantize/reconstruct chain (shared with
        # ann_sq8_topk), ranking restricted to the probed cells
        "ann_ivfsq_topk": f"""
            WITH {_SQL_KMEANS_ASSIGN},{_SQL_PROBES},{_SQL_SQ8}
            SELECT r.vec_id, a3.cid, {_SQL_SQ8_D2} AS sq_d2
            FROM recon r
            JOIN a3 ON r.vec_id = a3.vec_id
            JOIN probes USING (cid), q
            WHERE r.vec_id <> 0
            ORDER BY sq_d2 ASC, r.vec_id ASC LIMIT 10
        """,
        "link_degree_census": f"""
            WITH {link_edges_cte},
            ind AS (SELECT dst, COUNT(*)::BIGINT AS in_degree
                    FROM edges GROUP BY dst)
            SELECT COALESCE(i.in_degree, 0)::BIGINT AS in_degree,
                   COUNT(*)::BIGINT AS n_nodes
            FROM documents d LEFT JOIN ind i ON d.doc_id = i.dst
            GROUP BY 1
        """,
        "link_pagerank": f"""
            WITH {pagerank_ctes}
            SELECT node_id, pr FROM pr2
            ORDER BY pr DESC, node_id ASC LIMIT 30
        """,
        "link_pagerank_full": f"""
            WITH {pagerank_full_ctes}
            SELECT node_id, pr FROM prf2
            ORDER BY pr DESC, node_id ASC LIMIT 30
        """,
        # Bayardo-style all-pairs tf-idf cosine with df-cap stop-term
        # guard (operators/similarity.sparse_cosine_pairs): exact
        # integer dot on the quantized-idf micro-lattice, 6-dp cosine
        "text_allpairs_cosine": """
            WITH base AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t != '') AS toks
                 FROM documents),
            tok AS (SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 2
                          THEN list_transform(generate_series(1, len(toks) - 1),
                                              i -> toks[i] || ' ' || toks[i+1])
                          ELSE [] END) AS term
                 FROM base),
            tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
                   FROM tok GROUP BY 1, 2),
            df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
            w AS (SELECT tf.doc_id, tf.term,
                    (tf.tf * round(ln(n.n_docs::DOUBLE / df.df::DOUBLE)
                     * 1000000))::BIGINT AS w
                  FROM tf JOIN df USING (term) CROSS JOIN n
                  WHERE df.df >= 2
                    AND df.df <= floor(0.1 * n.n_docs::DOUBLE)::BIGINT),
            norm AS (SELECT doc_id, SUM(w * w)::BIGINT AS n2
                     FROM w GROUP BY doc_id),
            dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      SUM(a.w * b.w)::BIGINT AS dot
                    FROM w a JOIN w b
                      ON a.term = b.term AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
            SELECT id_a, id_b, dot,
                   round(dot::DOUBLE / (sqrt(na.n2::DOUBLE)
                         * sqrt(nb.n2::DOUBLE)), 6) AS cosine
            FROM dot JOIN norm na ON na.doc_id = id_a
                     JOIN norm nb ON nb.doc_id = id_b
            ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 30
        """,
        # unnormalized integer HITS, two unrolled sweeps
        # (operators/linkgraph.hits_scores): a1 = in-degree (h0 = 1),
        # h1 = sum of out-linked a1, a2 = sum of in-linking h1,
        # h2 = sum of out-linked a2
        "link_hits": f"""
            WITH {link_edges_cte},
            a1 AS (SELECT d.doc_id AS node_id, COALESCE(x.a, 0)::BIGINT AS a
                   FROM documents d LEFT JOIN
                     (SELECT dst, COUNT(*)::BIGINT AS a
                      FROM edges GROUP BY dst) x ON d.doc_id = x.dst),
            h1 AS (SELECT d.doc_id AS node_id, COALESCE(x.h, 0)::BIGINT AS h
                   FROM documents d LEFT JOIN
                     (SELECT e.src, SUM(a1.a)::BIGINT AS h
                      FROM edges e JOIN a1 ON e.dst = a1.node_id
                      GROUP BY e.src) x ON d.doc_id = x.src),
            a2 AS (SELECT d.doc_id AS node_id, COALESCE(x.a, 0)::BIGINT AS a
                   FROM documents d LEFT JOIN
                     (SELECT e.dst, SUM(h1.h)::BIGINT AS a
                      FROM edges e JOIN h1 ON e.src = h1.node_id
                      GROUP BY e.dst) x ON d.doc_id = x.dst),
            h2 AS (SELECT d.doc_id AS node_id, COALESCE(x.h, 0)::BIGINT AS h
                   FROM documents d LEFT JOIN
                     (SELECT e.src, SUM(a2.a)::BIGINT AS h
                      FROM edges e JOIN a2 ON e.dst = a2.node_id
                      GROUP BY e.src) x ON d.doc_id = x.src)
            SELECT h2.node_id, h2.h AS hub, a2.a AS auth
            FROM h2 JOIN a2 ON h2.node_id = a2.node_id
            ORDER BY auth DESC, hub DESC, h2.node_id ASC LIMIT 30
        """,
        # degree-oriented triangle enumeration: orient each undirected
        # edge low-(degree,id) -> high, close wedges against the
        # oriented set — each triangle produced once, then its three
        # corners counted (operators/linkgraph.triangle_counts); the
        # graph is link edges UNION blocked chord edges (_component_edges)
        "link_triangles": f"""
            WITH {triangle_ctes}
            SELECT node_id, n_triangles FROM tcount
            ORDER BY n_triangles DESC, node_id ASC LIMIT 30
        """,
        # Watts-Strogatz local clustering coefficient on the integer
        # micro-lattice (operators/linkgraph.clustering_coefficients)
        "link_clustering": f"""
            WITH {triangle_ctes}
            SELECT deg.n AS node_id, deg.d AS degree,
                   COALESCE(t.n_triangles, 0)::BIGINT AS n_triangles,
                   ((2 * COALESCE(t.n_triangles, 0) * 1000000)
                    // (deg.d * (deg.d - 1)))::BIGINT AS cc_micro
            FROM deg LEFT JOIN tcount t ON t.node_id = deg.n
            WHERE deg.d >= 2
            ORDER BY cc_micro DESC, node_id ASC LIMIT 30
        """,
        # personalized PageRank: teleport mass only on the
        # doc_id%100==0 seed set, two unrolled exact-integer iterations
        # (operators/linkgraph.personalized_pagerank)
        "link_ppr": f"""
            WITH {link_edges_cte},
            deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
            sd AS (SELECT doc_id AS node_id FROM documents
                   WHERE doc_id % 100 = 0),
            p0 AS (SELECT d.doc_id AS node_id,
                     (CASE WHEN s.node_id IS NOT NULL
                           THEN 1000000 ELSE 0 END)::BIGINT AS pr
                   FROM documents d LEFT JOIN sd s ON d.doc_id = s.node_id),
            {_ppr_iter(1)},{_ppr_iter(2)}
            SELECT node_id, pr FROM p2 WHERE pr > 0
            ORDER BY pr DESC, node_id ASC LIMIT 30
        """,
        "link_cocitation": f"""
            WITH {link_edges_cte},
            e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
            keep AS (SELECT src FROM e GROUP BY src HAVING COUNT(*) <= 64),
            ek AS (SELECT e.src, e.dst FROM e JOIN keep USING (src))
            SELECT l.dst AS a, r.dst AS b, COUNT(*)::BIGINT AS n_common
            FROM ek l JOIN ek r ON l.src = r.src AND l.dst < r.dst
            GROUP BY 1, 2
            ORDER BY n_common DESC, a ASC, b ASC LIMIT 30
        """,
        # blocked chord graph (entry _component_edges) -> transitive
        # closure per component (cheap: components are <= 16 nodes by
        # construction) -> min-label per node -> size histogram
        "link_components": f"""
            WITH RECURSIVE {chord_cte},
            e2 AS (SELECT src AS id_a, dst AS id_b FROM ce
                   WHERE src <> dst
                     AND dst IN (SELECT doc_id FROM documents)),{_sql_components('e2')},{_SQL_COMPONENT_LABELS},
            sizes AS (SELECT label, COUNT(*)::BIGINT AS size
                      FROM lab GROUP BY label)
            SELECT size AS component_size, COUNT(*)::BIGINT AS n_components
            FROM sizes GROUP BY 1 ORDER BY 1
        """,
        # temperature resampling: cut built from division + sqrt only
        # (both correctly rounded IEEE ops), bit-identical to the Spark
        # expression in operators/sampling.temperature_sample
        "sample_temperature": """
            WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n
                       FROM documents GROUP BY lang),
            m AS (SELECT MAX(n) AS nmax FROM c),
            cuts AS (SELECT lang,
                       CAST(floor(least(1000000.0,
                         200000.0 * sqrt(CAST(nmax AS DOUBLE)
                                         / CAST(n AS DOUBLE)))) AS BIGINT)
                       AS cut
                     FROM c CROSS JOIN m)
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN cuts USING (lang)
            WHERE ('0x' || substr(md5('0:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                  % 1000000 < cut
        """,
        "vocab_topk": """
            WITH tok AS (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                t -> t != '')) AS token
              FROM documents)
            SELECT token, COUNT(*)::BIGINT AS tf,
                   COUNT(DISTINCT doc_id)::BIGINT AS df
            FROM tok GROUP BY token
            ORDER BY tf DESC, token ASC LIMIT 50
        """,
        "vocab_coverage": """
            WITH tok AS (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                t -> t != '')) AS token
              FROM documents),
            freq AS (
              SELECT token, COUNT(*)::BIGINT AS tf FROM tok GROUP BY token),
            totals AS (
              SELECT COUNT(*)::BIGINT AS vocab_size,
                     SUM(tf)::BIGINT AS total_tokens FROM freq),
            top AS (
              SELECT SUM(tf)::BIGINT AS covered_tokens FROM (
                SELECT tf FROM freq ORDER BY tf DESC, token ASC LIMIT 100))
            SELECT vocab_size, total_tokens, covered_tokens,
                   round(1.0 - covered_tokens::DOUBLE / total_tokens, 6)
                     AS oov_rate
            FROM totals, top
        """,
        "text_embed_vectors": f"""
            WITH {_HASHED_EMBED_CTES},
            flat AS (SELECT doc_id,
                       unnest(generate_series(1, len(embedding))) AS i,
                       embedding
                     FROM emb)
            SELECT doc_id, (i - 1)::INT AS dim, embedding[i]::DOUBLE AS val
            FROM flat
        """,
        "text_embed_topk": f"""
            WITH {_HASHED_EMBED_CTES},
            q AS (SELECT embedding AS qv FROM emb WHERE doc_id = 0)
            SELECT e.doc_id,
                   round(list_cosine_similarity(e.embedding, q.qv), 6)
                     AS cosine_sim
            FROM emb e, q WHERE e.doc_id <> 0
            ORDER BY cosine_sim DESC, doc_id ASC LIMIT 10
        """,
        "semantic_dedup_pairs": f"""
            WITH {_SQL_KMEANS_ASSIGN}
            SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                     AS cosine_sim
            FROM a3 a JOIN a3 b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6)
                  >= 0.4
        """,
        "semantic_dedup_keep": f"""
            WITH {_SQL_KMEANS_ASSIGN},
            losers AS (
              SELECT DISTINCT b.vec_id FROM a3 a JOIN a3 b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]), 6)
                    >= 0.4)
            SELECT vec_id, cid FROM a3
            WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        "sim_lsh_buckets": f"""
            SELECT bucket, count(*) AS n_vecs FROM (
              SELECT {_SIGN_BUCKET_SQL} AS bucket FROM embeddings)
            GROUP BY bucket
        """,
        "sim_bucketed_topk": f"""
            WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec, bucket AS q_bucket
                  FROM b WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], q_vec), 6) AS cosine_sim
            FROM b, q WHERE b.bucket = q.q_bucket AND vec_id <> query_id
            ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
        """,
        "sim_multiprobe_topk": f"""
            WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec, bucket AS q_bucket
                  FROM b WHERE vec_id = 0),
            flips AS (
              SELECT j FROM q, (SELECT unnest(generate_series(0, 7)) AS j)
              ORDER BY abs(q_vec[j + 1]), j LIMIT 3),
            probes AS (
              SELECT q_bucket AS pb FROM q
              UNION ALL
              SELECT xor(q.q_bucket, (1 << f.j)::BIGINT) FROM q, flips f)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], q_vec), 6) AS cosine_sim
            FROM b, q
            WHERE b.bucket IN (SELECT pb FROM probes) AND vec_id <> query_id
            ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
        """,
        # ---- HTML boilerplate / multimodal / C2 ---------------------------
        "boilerplate_lines": """
            WITH wrapped AS (
              SELECT doc_id,
                     'HOME | ABOUT | CONTACT' || chr(10) || text || chr(10)
                       || '(c) example.org - all rights reserved' AS text
              FROM documents),
            base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM wrapped),
            lines AS (
              SELECT doc_id, unnest(ls) AS line,
                     unnest(generate_series(1, len(ls))) AS pos
              FROM base),
            dfc AS (
              SELECT md5(line) AS h, count(*) AS df
              FROM (SELECT DISTINCT doc_id, line FROM lines) GROUP BY 1),
            banned AS (SELECT h FROM dfc WHERE df >= 5),
            kept AS (
              SELECT doc_id, line, pos FROM lines
              WHERE md5(line) NOT IN (SELECT h FROM banned))
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        """,
        "boilerplate_site_lines": """
            WITH wrapped AS (
              SELECT doc_id, source AS site,
                     concat_ws(chr(10),
                       'HOME | ABOUT | CONTACT',
                       CASE WHEN doc_id % 2 = 0
                            THEN 'SUBSCRIBE TO OUR NEWSLETTER' END,
                       text,
                       '(c) ' || source) AS text
              FROM documents),
            base AS (SELECT doc_id, site, string_split(text, chr(10)) AS ls
                     FROM wrapped),
            lines AS (
              SELECT doc_id, site, unnest(ls) AS line,
                     unnest(generate_series(1, len(ls))) AS pos
              FROM base),
            sd AS (SELECT site, count(DISTINCT doc_id) AS site_docs
                   FROM wrapped GROUP BY 1),
            dfc AS (
              SELECT site, md5(line) AS h, count(*) AS df
              FROM (SELECT DISTINCT doc_id, site, line FROM lines)
              GROUP BY 1, 2),
            banned AS (
              SELECT dfc.site, dfc.h FROM dfc JOIN sd USING (site)
              WHERE df >= 3 AND df * 100 >= 40 * site_docs),
            kept AS (
              SELECT l.doc_id, l.site, l.line, l.pos FROM lines l
              ANTI JOIN banned b ON l.site = b.site AND md5(l.line) = b.h)
            SELECT doc_id, site,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id, site
        """,
        "html_boilerplate": f"""
            WITH {_SQL_DOM_BLOCKS},
            {_SQL_DOM_SCORED}
            SELECT doc_id, string_agg(btext, chr(10) ORDER BY idx) AS main_text,
                   count(*) AS n_blocks
            FROM sm WHERE base OR (weak AND (prev_c OR next_c))
            GROUP BY doc_id
        """,
        "html_block_scores": f"""
            WITH {_SQL_DOM_BLOCKS},
            {_SQL_DOM_SCORED}
            SELECT doc_id, idx,
                   len(list_filter(string_split(btext, ' '), t -> t != '')) AS n_words,
                   round(anchor_chars::DOUBLE / greatest(length(btext), 1), 6) AS link_density,
                   (base OR (weak AND (prev_c OR next_c))) AS is_content
            FROM sm
        """,
        "multimodal_stats": """
            WITH media AS (
              SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                          ELSE 'video' END AS kind,
                     encode(text) AS payload,
                     (doc_id % 640 + 32)::INT AS width,
                     (doc_id % 480 + 32)::INT AS height
              FROM documents)
            SELECT kind, count(*) AS n_media,
                   sum(octet_length(payload))::BIGINT AS total_bytes,
                   round(avg(width), 2) AS avg_width,
                   round(avg(height), 2) AS avg_height
            FROM media GROUP BY kind
        """,
        "multimodal_decode_bmp": _sql_solid_decode("bmp"),
        # media near-dup: the synth fixture's solid colors give exact
        # closed-form features (mean RGB / 255 through a float32 store,
        # contrast 0), sign-LSH bucket = positivity bits of f0..f2
        # BPE: every merge round replayed as a MATERIALIZED CTE chain
        # (pair counts -> deterministic argmax -> literal replace); the
        # wrapped-unit encoding makes replace() exactly greedy-leftmost
        # merge application in both engines (operators/bpe.py docstring)
        "bpe_merges": _bpe_merges_oracle(BPE_MERGES),
        "bpe_token_stats": _bpe_token_stats_oracle(BPE_MERGES),
        "bpe_fertility": _bpe_fertility_oracle(BPE_MERGES),
        # charset census: single-char regex classes count identically
        # under Java regex and RE2 for ASCII; non_ascii is the
        # exhaustive remainder so the census always sums to n_chars
        "charset_profile": """
            WITH per_doc AS (
              SELECT source,
                     length(text)::BIGINT AS n,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         ::BIGINT AS l,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                         ::BIGINT AS d,
                     length(regexp_replace(text, '[^ \t\n\r]', '', 'g'))
                         ::BIGINT AS s,
                     length(regexp_replace(text, '[^!-~]', '', 'g'))
                         ::BIGINT AS p
              FROM documents)
            SELECT source,
                   COUNT(*)::BIGINT AS n_docs,
                   SUM(n)::BIGINT AS n_chars,
                   SUM(l)::BIGINT AS letters,
                   SUM(d)::BIGINT AS digits,
                   SUM(s)::BIGINT AS spaces,
                   SUM(p - l - d)::BIGINT AS other_ascii,
                   SUM(n - s - p)::BIGINT AS non_ascii,
                   round(SUM(l)::DOUBLE
                         / GREATEST(SUM(n), 1)::DOUBLE, 6) AS letter_ratio
            FROM per_doc GROUP BY source
        """,
        # drift: same hashed-vocab + integer-quantized-log idioms as
        # dsir_topk; ordering is on the exact BIGINT log-ratio magnitude
        "corpus_drift": """
            WITH toks AS (
              SELECT CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS isnew,
                     unnest(list_filter(string_split(text, ' '),
                                        t -> t != '')) AS tok
              FROM documents),
            bt AS (
              SELECT isnew,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT % 512 AS bucket
              FROM toks),
            cnt AS (
              SELECT bucket, SUM(1 - isnew)::BIGINT AS n_old,
                     SUM(isnew)::BIGINT AS n_new
              FROM bt GROUP BY bucket),
            tot AS (
              SELECT SUM(n_old)::BIGINT AS tot_old,
                     SUM(n_new)::BIGINT AS tot_new FROM cnt),
            sc AS (
              SELECT bucket, n_old, n_new,
                     round(ln((n_new + 1)::DOUBLE
                              / (tot_new + 512)::DOUBLE) * 1000000,
                           0)::BIGINT
                     - round(ln((n_old + 1)::DOUBLE
                                / (tot_old + 512)::DOUBLE) * 1000000,
                             0)::BIGINT AS lr,
                     abs(n_new::DOUBLE / GREATEST(tot_new, 1)::DOUBLE
                         - n_old::DOUBLE / GREATEST(tot_old, 1)::DOUBLE)
                         AS l1
              FROM cnt, tot)
            SELECT bucket, n_old, n_new,
                   round(lr / 1000000.0, 6) AS log_ratio,
                   round(l1, 6) AS l1_term
            FROM sc ORDER BY abs(lr) DESC, bucket ASC LIMIT 30
        """,
        "dsir_topk": """
            WITH toks AS (
              SELECT doc_id, source,
                     unnest(list_filter(string_split(text, ' '),
                                        t -> t != '')) AS tok
              FROM documents),
            bt AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT % 512 AS b
              FROM toks),
            freq AS (
              SELECT b, COUNT(*)::BIGINT AS cnt_r,
                     SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0
                         END)::BIGINT AS cnt_t
              FROM bt GROUP BY b),
            tot AS (
              SELECT SUM(cnt_r)::BIGINT AS total_r,
                     SUM(cnt_t)::BIGINT AS total_t FROM freq),
            model AS (
              SELECT b,
                     round(ln((cnt_t + 1)::DOUBLE
                              / (total_t + 512)::DOUBLE) * 1000000,
                           0)::BIGINT
                     - round(ln(cnt_r::DOUBLE / total_r::DOUBLE) * 1000000,
                             0)::BIGINT AS lr
              FROM freq, tot),
            per_doc AS (
              SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
                     SUM(m.lr)::BIGINT AS lw
              FROM bt t JOIN model m USING (b)
              WHERE t.source != 'src1' GROUP BY t.doc_id),
            keyed AS (
              SELECT d.doc_id,
                     COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
                     round(COALESCE(p.lw, 0) / 1000000.0, 6) AS dsir_logw,
                     COALESCE(p.lw, 0) + round(-ln(-ln(
                         ((('0x' || substr(md5('7:' || d.doc_id::VARCHAR),
                                           1, 8))::BIGINT % 1000000) + 1)
                         / 1000001.0)) * 1000000, 0)::BIGINT AS dsir_key
              FROM documents d LEFT JOIN per_doc p USING (doc_id)
              WHERE d.source != 'src1')
            SELECT doc_id, n_tokens, dsir_logw, dsir_key
            FROM keyed ORDER BY dsir_key DESC, doc_id ASC LIMIT 25
        """,
        "media_dhash": f"""
            WITH {_SQL_IMAGE_SIGS}
            SELECT id AS media_ref, sig_hi, sig_lo
            FROM sigs ORDER BY media_ref
        """,
        # resize: every 13x11 output pixel maps to source pixel
        # (y*32//11, x*36//13), i.e. grid cell (src_y//4, src_x//4) of
        # the md5 grid — same fixture formula as media_dhash, plus the
        # planted top-bit flip at cell (0,0) for doc_id >= 250; the
        # checksum weights each pixel by its position (y*13 + x + 1)
        "media_resize": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
            px AS (
              SELECT d.doc_id, y.y, x.x,
                     ((y.y * 32) // 11) // 4 AS gr,
                     ((x.x * 36) // 13) // 4 AS gc,
                     ('0x' || substr(md5(printf('%d-%d-%d',
                          d.doc_id % 250,
                          ((y.y * 32) // 11) // 4,
                          ((x.x * 36) // 13) // 4)), 1, 2))::BIGINT AS v0
              FROM d, range(11) AS y(y), range(13) AS x(x)),
            adj AS (
              SELECT doc_id, y, x,
                     CASE WHEN gr = 0 AND gc = 0 AND doc_id >= 250
                          THEN xor(v0, 128) ELSE v0 END AS v
              FROM px)
            SELECT printf('gbmp-%05d', doc_id) AS media_ref,
                   TRUE AS ok, 13::INT AS width, 11::INT AS height,
                   SUM((y * 13 + x + 1) * v)::BIGINT AS checksum
            FROM adj GROUP BY doc_id ORDER BY media_ref
        """,
        # audio: the fixture waveform is pure id arithmetic, so every
        # integer feature (energy, strict-sign zero crossings via the
        # n+1 self-join, peak) replays exactly; garbage ids (% 10 == 0)
        # produce the zeroed ok=False row
        "audio_features": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
            s AS (SELECT d.doc_id, n.n,
                    (((d.doc_id * 7 + n.n * 13) % 256) - 128) * 100 AS v
                  FROM d, range(64) AS n(n)
                  WHERE d.doc_id % 10 != 0),
            f AS (SELECT a.doc_id,
                    SUM(a.v * a.v)::BIGINT AS energy,
                    MAX(ABS(a.v))::BIGINT AS peak,
                    SUM(CASE WHEN b.v IS NOT NULL AND a.v * b.v < 0
                             THEN 1 ELSE 0 END)::BIGINT AS zc
                  FROM s a LEFT JOIN s b
                    ON a.doc_id = b.doc_id AND b.n = a.n + 1
                  GROUP BY a.doc_id)
            SELECT printf('wav-%05d', d.doc_id) AS media_ref,
                   (d.doc_id % 10 != 0) AS ok,
                   (CASE WHEN d.doc_id % 10 = 0 THEN 0 ELSE 8000 END)::INT
                       AS sample_rate,
                   (CASE WHEN d.doc_id % 10 = 0 THEN 0 ELSE 64 END)::BIGINT
                       AS n_samples,
                   (CASE WHEN d.doc_id % 10 = 0 THEN 0 ELSE 8 END)::BIGINT
                       AS duration_ms,
                   COALESCE(f.energy, 0)::BIGINT AS energy,
                   COALESCE(f.zc, 0)::BIGINT AS zero_crossings,
                   COALESCE(f.peak, 0)::BIGINT AS peak
            FROM d LEFT JOIN f ON d.doc_id = f.doc_id
            ORDER BY media_ref
        """,
        # audio envelope hash: windows replay via the same monotone
        # floor partition (n*65 // 256), energies and comparisons exact
        # integers; the planted spike rides the CASE on the last four
        # samples; sig fold identical to the dhash oracles
        "audio_fingerprint": f"""
            WITH {_SQL_AUDIO_SIGS}
            SELECT printf('wav-%05d', d.doc_id) AS media_ref,
                   (d.doc_id % 10 != 0) AS ok,
                   COALESCE(g.sig_hi, 0)::BIGINT AS sig_hi,
                   COALESCE(g.sig_lo, 0)::BIGINT AS sig_lo
            FROM d LEFT JOIN sigs g ON d.doc_id = g.doc_id
            ORDER BY media_ref
        """,
        "audio_dup_pairs": "WITH " + _SQL_AUDIO_SIGS + _SQL_HAMMING2_PAIRS,
        # video: each frame is one md5 grid (the image-grid formula
        # plus a frame axis); the planted flip rides frame 0 cell (0,0)
        # for doc_id >= 250; luma/motion are exact x16 cell sums, and
        # per-frame dHash folds bits exactly like the image oracle
        "video_features": f"""
            WITH {_SQL_VIDEO_FRAMES},
            luma AS (SELECT doc_id, (16 * SUM(v))::BIGINT AS luma_sum
                     FROM adj GROUP BY doc_id),
            mot AS (SELECT a.doc_id,
                           (16 * SUM(abs(b.v - a.v)))::BIGINT AS motion
                    FROM adj a JOIN adj b
                      ON a.doc_id = b.doc_id AND a.r = b.r AND a.c = b.c
                     AND b.f = a.f + 1
                    GROUP BY a.doc_id)
            SELECT printf('y4m-%05d', d.doc_id) AS media_ref,
                   (d.doc_id % 10 != 0) AS ok,
                   CASE WHEN d.doc_id % 10 != 0 THEN 36 ELSE 0 END::INT
                     AS width,
                   CASE WHEN d.doc_id % 10 != 0 THEN 32 ELSE 0 END::INT
                     AS height,
                   CASE WHEN d.doc_id % 10 != 0 THEN 6 ELSE 0 END::INT
                     AS n_frames,
                   COALESCE(l.luma_sum, 0)::BIGINT AS luma_sum,
                   COALESCE(m.motion, 0)::BIGINT AS motion
            FROM d LEFT JOIN luma l ON d.doc_id = l.doc_id
                   LEFT JOIN mot m ON d.doc_id = m.doc_id
            ORDER BY media_ref
        """,
        "video_frame_dhash": f"""
            WITH {_SQL_VIDEO_SIGS}
            SELECT printf('y4m-%05d#f%04d', doc_id, f) AS media_ref,
                   sig_hi, sig_lo
            FROM sigs WHERE f % 2 = 0 ORDER BY media_ref
        """,
        "video_dup_pairs": f"""
            WITH {_SQL_VIDEO_SIGS}
            SELECT printf('y4m-%05d', a.doc_id) AS id_a,
                   printf('y4m-%05d', b.doc_id) AS id_b,
                   COUNT(*)::INTEGER AS n_matched
            FROM sigs a JOIN sigs b
              ON a.f = b.f AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig_hi, b.sig_hi))
                  + bit_count(xor(a.sig_lo, b.sig_lo)) <= 2
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 4
            ORDER BY id_a, id_b
        """,
        "media_dhash_pairs": "WITH " + _SQL_IMAGE_SIGS + _SQL_HAMMING2_PAIRS,
        "media_near_pairs": """
            WITH m AS (
              SELECT doc_id, printf('bmp-%05d', doc_id) AS media_ref,
                     CAST(CAST((doc_id % 256) / 255.0 AS FLOAT)
                          AS DOUBLE) AS f0,
                     CAST(CAST((doc_id * 7 % 256) / 255.0 AS FLOAT)
                          AS DOUBLE) AS f1,
                     CAST(CAST((doc_id * 13 % 256) / 255.0 AS FLOAT)
                          AS DOUBLE) AS f2,
                     CAST(CAST((greatest(doc_id % 256, doc_id * 7 % 256,
                                         doc_id * 13 % 256)
                                - least(doc_id % 256, doc_id * 7 % 256,
                                        doc_id * 13 % 256)) / 255.0
                               AS FLOAT) AS DOUBLE) AS f3
              FROM documents WHERE doc_id < 300 AND doc_id % 10 != 0),""" + _sql_media_near_pairs("m"),
        # jpeg fixture: ALL-ONES quant => DCT+quantize is lossless for
        # solid blocks; the decode expectation is the pure color-space
        # round trip with the codec's explicit floor(x + 0.5) roundings
        # (kernels/jpeg.py rgb_to_ycbcr / ycbcr_roundtrip_rgb), written
        # out term-for-term so DuckDB's double arithmetic matches
        # numpy's left-associated evaluation exactly
        "multimodal_decode_jpeg": f"""
            WITH m AS (
              SELECT doc_id, printf('jpg-%05d', doc_id) AS media_ref,
                     (doc_id % 16 + 1)::INT AS w, (doc_id % 8 + 1)::INT AS h,
                     (doc_id % 256)::DOUBLE AS r,
                     (doc_id * 7 % 256)::DOUBLE AS g,
                     (doc_id * 13 % 256)::DOUBLE AS b
              FROM documents WHERE doc_id < 300),{_sql_jpeg_roundtrip('m')}
            SELECT media_ref,
                   (doc_id % 10 != 0) AS ok,
                   (CASE WHEN doc_id % 10 = 0 THEN 0 ELSE w END)::INT
                       AS decoded_width,
                   (CASE WHEN doc_id % 10 = 0 THEN 0 ELSE h END)::INT
                       AS decoded_height,
                   CASE WHEN doc_id % 10 = 0 THEN 0.0
                        ELSE round(CAST(CAST(r2 / 255.0 AS FLOAT)::DOUBLE
                                        AS DOUBLE), 4)
                   END AS f0
            FROM dec
        """,
        # cross-codec near-dup: bmp vectors are the exact fixture
        # colors; jpg vectors are the closed-form YCbCr round trip
        # (same formulas as multimodal_decode_jpeg); the sign-LSH
        # bucket and cosine gate mirror the media_near_pairs twin
        "media_cross_codec_pairs": f"""
            WITH base AS (
              SELECT doc_id,
                     (doc_id % 256)::DOUBLE AS r,
                     (doc_id * 7 % 256)::DOUBLE AS g,
                     (doc_id * 13 % 256)::DOUBLE AS b
              FROM documents WHERE doc_id < 150 AND doc_id % 10 != 0),{_sql_jpeg_roundtrip('base')},
            feats AS (
              SELECT printf('bmp-%05d', doc_id) AS media_ref,
                     CAST(CAST(r / 255.0 AS FLOAT) AS DOUBLE) AS f0,
                     CAST(CAST(g / 255.0 AS FLOAT) AS DOUBLE) AS f1,
                     CAST(CAST(b / 255.0 AS FLOAT) AS DOUBLE) AS f2,
                     CAST(CAST((GREATEST(r, g, b) - LEAST(r, g, b))
                               / 255.0 AS FLOAT) AS DOUBLE) AS f3
              FROM dec
              UNION ALL
              SELECT printf('jpg-%05d', doc_id) AS media_ref,
                     CAST(CAST(r2 / 255.0 AS FLOAT) AS DOUBLE) AS f0,
                     CAST(CAST(g2 / 255.0 AS FLOAT) AS DOUBLE) AS f1,
                     CAST(CAST(b2 / 255.0 AS FLOAT) AS DOUBLE) AS f2,
                     CAST(CAST((GREATEST(r2, g2, b2) - LEAST(r2, g2, b2))
                               / 255.0 AS FLOAT) AS DOUBLE) AS f3
              FROM dec),""" + _sql_media_near_pairs("feats"),
        "multimodal_decode_png": _sql_solid_decode("png"),
        "c2_structural": """
            WITH stats AS (
              SELECT user_id,
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS h_lines,
                sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v_lines,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) + 1 AS text_blocks,
                floor(sum(value))::INT AS char_count,
                (user_id % 100)::DOUBLE / 100.0 AS image_coverage,
                user_id % 2 = 0 AS gap_regular,
                user_id AS page_number
              FROM events GROUP BY user_id)
            SELECT user_id,
              CASE
                WHEN char_count < 10 AND image_coverage < 0.1 THEN 'blank'
                WHEN page_number = 1 AND char_count < 500 AND image_coverage > 0.1 THEN 'cover'
                WHEN page_number = 1 AND text_blocks < 5 AND char_count < 300 THEN 'cover'
                WHEN image_coverage > 0.5 THEN 'figure'
                WHEN h_lines >= 3 AND v_lines >= 3 THEN 'table'
                WHEN h_lines + v_lines >= 5 AND text_blocks >= 3 AND gap_regular THEN 'table'
                WHEN h_lines + v_lines >= 5 AND text_blocks >= 3 THEN 'mixed'
                WHEN char_count > 500 AND h_lines + v_lines < 5 THEN 'narrative'
                WHEN text_blocks >= 3 THEN 'mixed'
                ELSE 'unknown' END AS page_type,
              CASE
                WHEN char_count < 10 AND image_coverage < 0.1 THEN 0.95
                WHEN page_number = 1 AND char_count < 500 AND image_coverage > 0.1 THEN 0.7
                WHEN page_number = 1 AND text_blocks < 5 AND char_count < 300 THEN 0.6
                WHEN image_coverage > 0.5 THEN 0.85
                WHEN h_lines >= 3 AND v_lines >= 3 THEN 0.9
                WHEN h_lines + v_lines >= 5 AND text_blocks >= 3 AND gap_regular THEN 0.75
                WHEN h_lines + v_lines >= 5 AND text_blocks >= 3 THEN 0.6
                WHEN char_count > 500 AND h_lines + v_lines < 5 THEN 0.8
                WHEN text_blocks >= 3 THEN 0.5
                ELSE 0.3 END AS confidence
            FROM stats
        """,
        # ---- text analytics ------------------------------------------------
        "text_token_stats": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
              FROM documents)
            SELECT doc_id,
              len(toks) AS n_tokens,
              len(list_distinct(toks)) AS n_distinct_tokens,
              length(text) AS n_chars_actual,
              round(length(text)::DOUBLE / greatest(len(toks), 1), 6) AS avg_token_len,
              round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 6) AS distinct_ratio
            FROM t
        """,
        "text_quality": _SQL_QUALITY,
        "text_langid": _SQL_LANGID,
        "text_fingerprint": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
              FROM documents)
            SELECT doc_id,
              list_reduce(
                list_prepend(0::BIGINT,
                  list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)),
                (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
            FROM t
        """,
        "text_winnow": f"""
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '), t -> t != '') AS toks
              FROM documents WHERE doc_id % 10 = 0),{_sql_winnow_windows('base')}
            SELECT DISTINCT doc_id,
              (i + list_max(list_filter(generate_series(1, len(wn)),
                   j -> wn[j] = list_min(wn))) - 1)::BIGINT AS pos,
              list_min(wn)::BIGINT AS gram_hash
            FROM wwin
        """,
        "text_repetition": _SQL_REPETITION,
        "text_unigram_lm": """
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                x -> x != '')) AS tok
              FROM documents),
            freq AS (SELECT tok, COUNT(*)::BIGINT AS cnt FROM tk GROUP BY tok),
            tot AS (SELECT SUM(cnt)::BIGINT AS total FROM freq),
            scaled AS (
              SELECT tok,
                     round(ln(cnt / total) * 1000000.0)::BIGINT AS lp
              FROM freq, tot),
            per_doc AS (
              SELECT tk.doc_id, COUNT(*)::BIGINT AS n_tokens,
                     SUM(lp)::BIGINT AS lp_sum
              FROM tk JOIN scaled USING (tok) GROUP BY tk.doc_id)
            SELECT d.doc_id,
                   COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
                   round(COALESCE(p.lp_sum, 0) / 1000000.0
                         / greatest(COALESCE(p.n_tokens, 0), 1), 6)
                     AS mean_logprob
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "lm_score_stored": """
            WITH tk AS (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                x -> x != '')) AS tok
              FROM documents),
            ref AS (SELECT tok, COUNT(*)::BIGINT AS cnt FROM tk
                    WHERE doc_id % 2 = 0 GROUP BY tok),
            tot AS (SELECT COALESCE(SUM(cnt), 0)::BIGINT AS total FROM ref),
            scaled AS (
              SELECT tok,
                     round(ln(cnt / total) * 1000000.0)::BIGINT AS lp
              FROM ref, tot),
            per_doc AS (
              SELECT tk.doc_id, COUNT(*)::BIGINT AS n_tokens,
                     SUM(COALESCE(lp, 0))::BIGINT AS lp_known,
                     SUM(CASE WHEN lp IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS oov_tokens
              FROM tk LEFT JOIN scaled USING (tok) GROUP BY tk.doc_id)
            SELECT d.doc_id,
                   COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
                   COALESCE(p.oov_tokens, 0)::BIGINT AS oov_tokens,
                   floor((COALESCE(p.lp_known, 0)
                          + COALESCE(p.oov_tokens, 0)
                            * round(ln(1.0 / (total + 1))
                                    * 1000000.0)::BIGINT)
                         / greatest(COALESCE(p.n_tokens, 0), 1))::BIGINT
                     AS mean_logprob_micro
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id, tot
        """,
        "text_token_bpe": """
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]'))::INT
                       AS n_bpe_tokens,
                     len(list_filter(string_split(text, ' '),
                                     x -> x != ''))::INT AS n_word_tokens
              FROM documents)
            SELECT doc_id, n_bpe_tokens, n_word_tokens,
                   round(n_bpe_tokens::DOUBLE
                         / greatest(n_word_tokens, 1), 6) AS tokens_per_word
            FROM t
        """,
        "text_bigram_lm": """
            WITH tk AS (
              SELECT doc_id, list_filter(string_split(text, ' '),
                                         x -> x != '') AS toks
              FROM documents),
            flat AS (
              SELECT doc_id, unnest(toks) AS tok FROM tk),
            freq AS (SELECT tok, COUNT(*)::BIGINT AS cnt FROM flat GROUP BY tok),
            tot AS (SELECT SUM(cnt)::BIGINT AS total FROM freq),
            pos AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(2, len(toks)), i -> toks[i - 1])) AS prev,
                     unnest(list_transform(
                       generate_series(2, len(toks)), i -> toks[i])) AS cur
              FROM tk WHERE len(toks) >= 2),
            big AS (SELECT prev, cur, COUNT(*)::BIGINT AS cb
                    FROM pos GROUP BY prev, cur),
            scored AS (
              SELECT b.prev, b.cur,
                     round(ln(0.5 * (b.cb::DOUBLE / fp.cnt)
                              + 0.5 * (fc.cnt::DOUBLE / tot.total))
                           * 1000000.0)::BIGINT AS lp
              FROM big b
              JOIN freq fp ON fp.tok = b.prev
              JOIN freq fc ON fc.tok = b.cur, tot),
            per_doc AS (
              SELECT pos.doc_id, COUNT(*)::BIGINT AS n_bigrams,
                     SUM(lp)::BIGINT AS lp_sum
              FROM pos JOIN scored USING (prev, cur) GROUP BY pos.doc_id)
            SELECT d.doc_id,
                   COALESCE(p.n_bigrams, 0)::BIGINT AS n_bigrams,
                   round(COALESCE(p.lp_sum, 0) / 1000000.0
                         / greatest(COALESCE(p.n_bigrams, 0), 1), 6)
                     AS mean_logprob
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "text_pii": r"""
            WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR
                     || '@example.com or admin@example.org see http://site'
                     || (doc_id % 7)::VARCHAR || '.example.net/p'
                     || doc_id::VARCHAR AS text
              FROM documents),
            e AS (
              SELECT doc_id, text,
                regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS emails,
                regexp_extract_all(text,
                  'https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]+') AS urls
              FROM d)
            SELECT doc_id,
              len(emails)::INT AS n_emails,
              len(urls)::INT AS n_urls,
              list_aggregate(
                list_sort(list_distinct(
                  list_transform(emails, x -> regexp_extract(x, '@(.*)$', 1)))),
                'string_agg', ',') AS email_domains,
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS masked_text
            FROM e
        """,
        "substr_dup_ranges": f"""
            WITH {_SQL_DUP_RUNS}
            SELECT doc_id,
                   MIN(pos)::INT AS start_tok,
                   (MAX(pos) + 7)::INT AS end_tok,
                   (MAX(pos) + 7 - MIN(pos) + 1)::INT AS n_dup_tokens
            FROM isl GROUP BY doc_id, grp
            ORDER BY doc_id, start_tok
        """,
        "substr_trim": f"""
            WITH {_SQL_DUP_RUNS},
            rng AS (
              SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + 7 AS end_tok
              FROM isl GROUP BY doc_id, grp),
            toks AS (
              SELECT doc_id, unnest(tk) AS tok,
                     unnest(generate_series(1, len(tk))) AS i
              FROM d),
            cov AS (
              SELECT DISTINCT t.doc_id, t.i
              FROM toks t JOIN rng r
                ON t.doc_id = r.doc_id
               AND t.i - 1 BETWEEN r.start_tok AND r.end_tok)
            SELECT t.doc_id,
                   coalesce(string_agg(t.tok, ' ' ORDER BY t.i)
                            FILTER (WHERE c.i IS NULL), '') AS clean_text,
                   count(*)::BIGINT AS n_tokens,
                   sum(CASE WHEN c.i IS NULL THEN 0 ELSE 1 END)::BIGINT
                     AS n_removed
            FROM toks t LEFT JOIN cov c
              ON t.doc_id = c.doc_id AND t.i = c.i
            GROUP BY t.doc_id ORDER BY t.doc_id
        """,
        "decontaminate_report": f"""
            WITH {_SQL_GRAMS8},
            bench AS (
              SELECT DISTINCT gh FROM grams WHERE doc_id < 10),
            hits AS (
              SELECT doc_id, pos FROM grams
              WHERE doc_id >= 10 AND gh IN (SELECT gh FROM bench))
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_contaminated_positions
            FROM hits GROUP BY doc_id ORDER BY doc_id
        """,
        "substr_dup_profile": f"""
            WITH {_SQL_DUP_RUNS},
            r AS (
              SELECT doc_id, MAX(pos) + 7 - MIN(pos) + 1 AS n_dup
              FROM isl GROUP BY doc_id, grp),
            per_doc AS (
              SELECT doc_id, SUM(n_dup)::BIGINT AS dup_tokens
              FROM r GROUP BY doc_id)
            SELECT d.doc_id,
                   len(d.tk)::INT AS n_tokens,
                   COALESCE(p.dup_tokens, 0)::BIGINT AS dup_tokens,
                   round(COALESCE(p.dup_tokens, 0)::DOUBLE
                         / greatest(len(d.tk), 1), 6) AS dup_frac
            FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "curation_flags": _SQL_CURATION_FLAGS + """
            SELECT doc_id, pred_lang, quality_score, top_2gram_frac,
                   dup_5gram_frac, reject_reason FROM flags
        """,
        "corpus_profile": """
            SELECT lang,
                   COUNT(*)::BIGINT AS n_docs,
                   MIN(n_chars) AS min_val,
                   quantile_disc(n_chars, 0.25)::BIGINT AS p25,
                   quantile_disc(n_chars, 0.50)::BIGINT AS p50,
                   quantile_disc(n_chars, 0.75)::BIGINT AS p75,
                   quantile_disc(n_chars, 0.90)::BIGINT AS p90,
                   quantile_disc(n_chars, 0.99)::BIGINT AS p99,
                   MAX(n_chars) AS max_val,
                   round(AVG(n_chars), 6) AS mean_val
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "hist_quantiles": """
            WITH stats AS (
              SELECT lang, MIN(n_chars)::BIGINT AS mn,
                     MAX(n_chars)::BIGINT AS mx, COUNT(*)::BIGINT AS n_docs
              FROM documents GROUP BY lang),
            b AS (
              SELECT d.lang,
                     LEAST(63::BIGINT,
                           ((d.n_chars::BIGINT - s.mn) * 64) // (s.mx - s.mn + 1))
                       AS bucket
              FROM documents d JOIN stats s USING (lang)),
            h AS (SELECT lang, bucket, COUNT(*)::BIGINT AS c
                  FROM b GROUP BY lang, bucket),
            c AS (SELECT lang, bucket,
                    (SUM(c) OVER (PARTITION BY lang ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
                  FROM h),
            j AS (SELECT c.lang, c.bucket, c.cum, s.mn, s.mx, s.n_docs
                  FROM c JOIN stats s USING (lang))
            SELECT lang, MIN(n_docs)::BIGINT AS n_docs,
                   MIN(mn)::BIGINT AS min_val,
                   MIN(CASE WHEN cum >= (n_docs * 25 + 99) // 100
                       THEN mn + (bucket * (mx - mn + 1)) // 64 END)::BIGINT AS p25_lo,
                   MIN(CASE WHEN cum >= (n_docs * 50 + 99) // 100
                       THEN mn + (bucket * (mx - mn + 1)) // 64 END)::BIGINT AS p50_lo,
                   MIN(CASE WHEN cum >= (n_docs * 75 + 99) // 100
                       THEN mn + (bucket * (mx - mn + 1)) // 64 END)::BIGINT AS p75_lo,
                   MIN(CASE WHEN cum >= (n_docs * 90 + 99) // 100
                       THEN mn + (bucket * (mx - mn + 1)) // 64 END)::BIGINT AS p90_lo,
                   MIN(CASE WHEN cum >= (n_docs * 99 + 99) // 100
                       THEN mn + (bucket * (mx - mn + 1)) // 64 END)::BIGINT AS p99_lo,
                   MIN(mx)::BIGINT AS max_val
            FROM j GROUP BY lang ORDER BY lang
        """,
        "session_windows": """
            WITH m AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
              FROM m),
            g AS (
              SELECT user_id, sid, min(ts) AS st,
                     max(ts) + INTERVAL 30 MINUTE AS en,
                     COUNT(*)::BIGINT AS n_events,
                     round(SUM(round(value * 1000000)::BIGINT)::DOUBLE
                           / 1000000, 2) AS total_value
              FROM s GROUP BY user_id, sid)
            SELECT user_id,
                   datediff('millisecond',
                            TIMESTAMP '2024-01-01 00:00:00', st)::BIGINT
                     AS start_ms,
                   datediff('millisecond',
                            TIMESTAMP '2024-01-01 00:00:00', en)::BIGINT
                     AS end_ms,
                   n_events, total_value
            FROM g
        """,
        "asof_click_view": """
            WITH c AS (
              SELECT user_id, ts, event_id, value AS click_value
              FROM events WHERE event_type = 'click'),
            v AS (
              SELECT user_id, ts, event_id AS view_event_id,
                     value AS view_value
              FROM events WHERE event_type = 'view')
            SELECT c.user_id, c.event_id, c.click_value,
                   datediff('microsecond', v.ts, c.ts)::BIGINT
                     AS us_since_view,
                   v.view_event_id, v.view_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND v.ts <= c.ts
        """,
        "source_report": _SQL_CURATION_FLAGS + """,
            j AS (
              SELECT d.source, f.quality_score, f.reject_reason
              FROM documents d JOIN flags f ON d.doc_id = f.doc_id)
            SELECT source,
                   COUNT(*)::BIGINT AS n_docs,
                   round(SUM(round(quality_score * 1000000.0)::BIGINT)
                         / 1000000.0 / COUNT(*), 6) AS mean_quality,
                   SUM((reject_reason = 'keep')::INT)::BIGINT AS n_keep,
                   SUM((reject_reason = 'lang')::INT)::BIGINT AS n_lang,
                   SUM((reject_reason = 'quality')::INT)::BIGINT AS n_quality,
                   SUM((reject_reason = 'repetition')::INT)::BIGINT
                     AS n_repetition,
                   round(SUM((reject_reason = 'keep')::INT)::BIGINT
                         / COUNT(*), 6) AS keep_rate
            FROM j GROUP BY source ORDER BY source
        """,
        "chunk_windows": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS tk
              FROM documents),
            w AS (
              SELECT doc_id, tk,
                     CASE WHEN len(tk) <= 0 THEN 0
                          ELSE floor((len(tk) - 1) / 24)::INT + 1 END AS nw
              FROM d),
            c AS (
              SELECT doc_id, (i - 1)::INT AS chunk_idx,
                     list_aggregate(tk[(i-1)*24 + 1 : (i-1)*24 + 32],
                                    'string_agg', ' ') AS chunk_text
              FROM w, unnest(generate_series(1, nw)) AS t(i))
            SELECT doc_id, chunk_idx, chunk_text,
                   len(list_filter(string_split(chunk_text, ' '),
                                   x -> x != ''))::INT AS n_chunk_tokens
            FROM c
        """,
        "interleaved_spans": _SQL_INTER_SPANS + """
            SELECT doc_id, "offset", kind, text, media_ref FROM spans
        """,
        # merge_adjacent_text twin: run-group text spans by the count of
        # preceding media spans, string_agg per run (offset order), union
        # media rows back, renumber by first offset per doc
        "interleaved_merged": _SQL_INTER_SPANS + """,
            runs AS (
              SELECT doc_id, "offset", kind, text, media_ref,
                     SUM(CASE WHEN kind != 'text' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY "offset"
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS grp
              FROM spans),
            mg AS (
              SELECT doc_id, 'text' AS kind,
                     string_agg(text, ' ' ORDER BY "offset") AS text,
                     NULL::VARCHAR AS media_ref,
                     MIN("offset") AS fo
              FROM runs WHERE kind = 'text' GROUP BY doc_id, grp
              UNION ALL
              SELECT doc_id, kind, text, media_ref, "offset" AS fo
              FROM runs WHERE kind != 'text')
            SELECT doc_id,
                   (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fo)
                    - 1)::INT AS "offset",
                   kind, text, media_ref
            FROM mg
        """,
        # media_context twin: join media to text spans per doc, rank each
        # side by distance, keep rank <= 2, string_agg in offset order
        "media_context": _SQL_INTER_SPANS + """,
            t AS (SELECT doc_id, "offset", text FROM spans
                  WHERE kind = 'text'),
            md AS (SELECT doc_id, media_ref, "offset" AS mo FROM spans
                   WHERE kind != 'text'),
            bj AS (SELECT md.doc_id, md.mo, t."offset" AS o, t.text,
                          ROW_NUMBER() OVER (PARTITION BY md.doc_id, md.mo
                                             ORDER BY t."offset" DESC) AS rn
                   FROM md JOIN t ON t.doc_id = md.doc_id
                                 AND t."offset" < md.mo),
            bb AS (SELECT doc_id, mo,
                          string_agg(text, ' ' ORDER BY o) AS before_text,
                          COUNT(*)::INT AS n_before
                   FROM bj WHERE rn <= 2 GROUP BY doc_id, mo),
            aj AS (SELECT md.doc_id, md.mo, t."offset" AS o, t.text,
                          ROW_NUMBER() OVER (PARTITION BY md.doc_id, md.mo
                                             ORDER BY t."offset" ASC) AS rn
                   FROM md JOIN t ON t.doc_id = md.doc_id
                                 AND t."offset" > md.mo),
            aa AS (SELECT doc_id, mo,
                          string_agg(text, ' ' ORDER BY o) AS after_text,
                          COUNT(*)::INT AS n_after
                   FROM aj WHERE rn <= 2 GROUP BY doc_id, mo)
            SELECT md.doc_id, md.media_ref, md.mo AS media_offset,
                   bb.before_text, aa.after_text,
                   COALESCE(bb.n_before, 0)::INT AS n_before,
                   COALESCE(aa.n_after, 0)::INT AS n_after
            FROM md
            LEFT JOIN bb ON bb.doc_id = md.doc_id AND bb.mo = md.mo
            LEFT JOIN aa ON aa.doc_id = md.doc_id AND aa.mo = md.mo
        """,
        # asset_census twin: hash-fold refs into the 64-asset pool
        "asset_census": _SQL_INTER_SPANS + """,
            am AS (SELECT doc_id, "offset",
                          'asset_' || (('0x' || substr(md5(media_ref), 1, 8))
                                       ::BIGINT % 64)::VARCHAR AS asset
                   FROM spans WHERE kind != 'text')
            SELECT asset,
                   COUNT(DISTINCT doc_id)::INT AS n_docs,
                   COUNT(*)::INT AS n_occurrences,
                   MIN("offset")::INT AS min_offset,
                   MAX("offset")::INT AS max_offset
            FROM am GROUP BY asset
        """,
        # asset_dedup_groups twin: md5 over the sorted distinct 8-pool
        # asset set per doc (docs with no media excluded)
        "asset_dedup_groups": _SQL_INTER_SPANS + """,
            da AS (SELECT doc_id,
                          md5(array_to_string(list_sort(list_distinct(
                            list('asset_' || (('0x' || substr(md5(media_ref),
                                 1, 8))::BIGINT % 8)::VARCHAR))), ','))
                            AS asset_sig
                   FROM spans WHERE kind != 'text' GROUP BY doc_id)
            SELECT asset_sig, COUNT(*)::INT AS n_docs,
                   MIN(doc_id) AS keep_doc_id
            FROM da GROUP BY asset_sig
        """,
        # interleaved_quality twin: same hash-bucket perturbation (b=0
        # drops all text spans, b=1 keeps only the offset-0 text span),
        # stats per doc over the kept spans, doc universe = sized (docs
        # whose lift produced spans), so fully-emptied docs read 'empty'
        "interleaved_quality": _SQL_INTER_SPANS + """,
            bs AS (SELECT doc_id,
                          ('0x' || substr(md5('iq:' || doc_id::VARCHAR),
                                          1, 8))::BIGINT % 7 AS b
                   FROM sized),
            kept AS (SELECT s.doc_id, s."offset", s.kind, s.text
                     FROM spans s JOIN bs ON bs.doc_id = s.doc_id
                     WHERE CASE WHEN bs.b = 0 THEN s.kind != 'text'
                                WHEN bs.b = 1 THEN s.kind != 'text'
                                                  OR s."offset" = 0
                                ELSE TRUE END),
            mt AS (SELECT doc_id,
                          MIN(CASE WHEN kind = 'text' THEN "offset" END)
                            AS mto
                   FROM kept GROUP BY doc_id),
            st AS (SELECT k.doc_id,
                          COUNT(*)::INT AS n_spans,
                          SUM(CASE WHEN k.kind = 'text' THEN 1 ELSE 0
                              END)::INT AS n_text,
                          SUM(CASE WHEN k.kind != 'text' THEN 1 ELSE 0
                              END)::INT AS n_media,
                          SUM(CASE WHEN k.kind = 'text'
                              THEN len(list_filter(string_split(k.text, ' '),
                                                   t -> t != ''))
                              ELSE 0 END)::BIGINT AS text_tokens,
                          SUM(CASE WHEN k.kind != 'text'
                                    AND k."offset" > mt.mto
                              THEN 1 ELSE 0 END)::INT AS covered
                   FROM kept k JOIN mt ON mt.doc_id = k.doc_id
                   GROUP BY k.doc_id)
            SELECT z.doc_id,
                   COALESCE(st.n_spans, 0)::INT AS n_spans,
                   COALESCE(st.n_text, 0)::INT AS n_text,
                   COALESCE(st.n_media, 0)::INT AS n_media,
                   COALESCE(st.text_tokens, 0)::BIGINT AS text_tokens,
                   CASE WHEN COALESCE(st.n_spans, 0) > 0
                        THEN ROUND(st.n_media / CAST(st.n_spans AS DOUBLE), 6)
                        END AS media_ratio,
                   CASE WHEN COALESCE(st.n_media, 0) > 0
                        THEN ROUND(st.covered / CAST(st.n_media AS DOUBLE), 6)
                        END AS caption_coverage,
                   CASE WHEN COALESCE(st.n_spans, 0) = 0 THEN 'empty'
                        WHEN COALESCE(st.n_text, 0) = 0 AND st.n_media > 0
                          THEN 'media_only'
                        WHEN ROUND(st.n_media / CAST(st.n_spans AS DOUBLE), 6)
                             > 0.5
                          THEN 'media_heavy'
                        ELSE 'keep' END AS verdict
            FROM sized z
            LEFT JOIN st ON st.doc_id = z.doc_id
        """,
        # two corpus variants (drop ~5% left / ~5% right, append two
        # tokens to ~9% of right), spans per side, then a positional
        # full join — offsets ARE positions, so min(offset) over
        # mismatches is span_diff's first differing index
        "span_diff": f"""
            WITH hsrc AS (
              SELECT doc_id, text,
                     ('0x' || substr(md5('sd:' || doc_id::VARCHAR), 1, 8))::BIGINT
                       AS hv
              FROM documents),
            lt AS (SELECT doc_id, text FROM hsrc WHERE hv % 23 != 3),
            rt AS (SELECT doc_id,
                          CASE WHEN hv % 11 = 1 THEN text || ' zz qq'
                               ELSE text END AS text
                   FROM hsrc WHERE hv % 19 != 5),
            {_spans_over('lt', 'l')},
            {_spans_over('rt', 'r')},
            pres AS (SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
                            l.doc_id IS NOT NULL AS in_l,
                            r.doc_id IS NOT NULL AS in_r
                     FROM lt l FULL JOIN rt r ON l.doc_id = r.doc_id),
            lc AS (SELECT doc_id, COUNT(*)::INT AS n FROM lspans GROUP BY doc_id),
            rc AS (SELECT doc_id, COUNT(*)::INT AS n FROM rspans GROUP BY doc_id),
            dj AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                          COALESCE(a."offset", b."offset") AS off,
                          (a."offset" IS NOT NULL AND b."offset" IS NOT NULL
                           AND a.kind IS NOT DISTINCT FROM b.kind
                           AND a.text IS NOT DISTINCT FROM b.text
                           AND a.media_ref IS NOT DISTINCT FROM b.media_ref)
                            AS eq
                   FROM lspans a FULL JOIN rspans b
                     ON a.doc_id = b.doc_id AND a."offset" = b."offset"),
            dp AS (SELECT doc_id, MIN(off)::INT AS fd
                   FROM dj WHERE NOT eq GROUP BY doc_id)
            SELECT p.doc_id,
                   CASE WHEN NOT p.in_l THEN 'right_only'
                        WHEN NOT p.in_r THEN 'left_only'
                        WHEN dp.fd IS NULL THEN 'equal'
                        ELSE 'diverged' END AS verdict,
                   CASE WHEN p.in_l AND p.in_r THEN dp.fd
                        END AS first_diff_offset,
                   CASE WHEN p.in_l THEN COALESCE(lc.n, 0) END AS n_left,
                   CASE WHEN p.in_r THEN COALESCE(rc.n, 0) END AS n_right
            FROM pres p
            LEFT JOIN lc ON lc.doc_id = p.doc_id
            LEFT JOIN rc ON rc.doc_id = p.doc_id
            LEFT JOIN dp ON dp.doc_id = p.doc_id
        """,
        # synth_boxes twin (two newspaper columns when the doc hash is
        # even), then the same two-window column-cut sweep + rank and
        # the per-doc recovery report
        "layout_reading_order": """
            WITH tk AS (
              SELECT doc_id,
                     ('0x' || substr(md5('col:' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % 2 = 0 AS two,
                     list_filter(string_split(text, ' '), t -> t != '') AS toks
              FROM documents),
            nz AS (SELECT doc_id, two, len(toks)::BIGINT AS n
                   FROM tk WHERE len(toks) > 0),
            tr AS (SELECT doc_id, two, n, unnest(range(0, n)) AS i FROM nz),
            geo AS (
              SELECT doc_id, i AS box_id, i // 4 AS line,
                     CASE WHEN two
                          THEN CAST(ceil(CAST(ceil(n / 4.0) AS BIGINT) / 2.0)
                                    AS BIGINT)
                          ELSE CAST(ceil(n / 4.0) AS BIGINT) END AS lpc
              FROM tr),
            boxes AS (
              SELECT doc_id, box_id::INT AS box_id,
                     ((line // lpc) * 500 + (box_id % 4) * 100)::INT AS x0,
                     ((line // lpc) * 500 + (box_id % 4) * 100 + 80)::INT AS x1,
                     ((line % lpc) * 50)::INT AS y0
              FROM geo),
            swept AS (
              SELECT *, max(x1) OVER (PARTITION BY doc_id
                          ORDER BY x0, y0, box_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
              FROM boxes),
            cols AS (
              SELECT *, (SUM(CASE WHEN pm IS NULL OR x0 >= pm + 50
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY x0, y0, box_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW))::INT AS col_id
              FROM swept),
            ranked AS (
              SELECT doc_id, box_id, col_id,
                     (ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY col_id, y0, x0, box_id))::INT AS read_rank
              FROM cols)
            SELECT doc_id, COUNT(*)::INT AS n_boxes,
                   MAX(col_id)::INT AS n_cols,
                   SUM(CASE WHEN read_rank = box_id + 1
                            THEN 1 ELSE 0 END)::INT AS n_in_order
            FROM ranked GROUP BY doc_id
        """,
        "interleaved_captions": _SQL_INTER_SPANS + """
            SELECT doc_id, media_ref, "offset" AS media_offset,
                   last_value(CASE WHEN kind = 'text' THEN text END
                              IGNORE NULLS)
                     OVER (PARTITION BY doc_id ORDER BY "offset"
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS caption,
                   last_value(CASE WHEN kind = 'text' THEN "offset" END
                              IGNORE NULLS)
                     OVER (PARTITION BY doc_id ORDER BY "offset"
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS caption_offset
            FROM spans QUALIFY kind = 'image'
        """,
        "pack_interleaved": _SQL_INTER_SPANS + """,
            costed AS (
              SELECT doc_id, "offset",
                     kind = 'text' AS is_text,
                     (CASE WHEN kind = 'text'
                           THEN len(list_filter(string_split(text, ' '),
                                                t -> t != ''))
                           ELSE 16 END)::BIGINT AS cost
              FROM spans),
            binned AS (
              SELECT doc_id, is_text, cost,
                     ((SUM(cost) OVER (PARTITION BY doc_id ORDER BY "offset"
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - cost) // 64)::BIGINT AS seq_id
              FROM costed)
            SELECT doc_id, seq_id,
                   count(*)::INT AS n_spans,
                   SUM(is_text::INT)::INT AS n_text,
                   SUM((NOT is_text)::INT)::INT AS n_media,
                   SUM(cost)::BIGINT AS seq_tokens
            FROM binned GROUP BY 1, 2
        """,
        "pack_sequences": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t != '') AS toks
              FROM documents),
            nz AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
            off AS (
              SELECT doc_id, toks, n,
                     (SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW))::BIGINT - n AS o
              FROM nz),
            tok AS (SELECT doc_id, o, unnest(range(0, n)) AS i,
                           unnest(toks) AS tok FROM off)
            SELECT ((o + i) // 128)::BIGINT AS seq_id,
                   count(*)::INT AS n_tokens,
                   count(DISTINCT doc_id)::INT AS n_docs,
                   count(*) = 128 AS complete,
                   string_agg(tok, ' ' ORDER BY o + i) AS seq_text
            FROM tok GROUP BY 1 ORDER BY 1
        """,
        "pack_bins": """
            WITH d AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                                     x -> x != ''))::INT AS n_tokens
              FROM documents)
            SELECT doc_id, n_tokens,
                   floor((SUM(n_tokens) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens) / 512)::BIGINT AS bin_id
            FROM d
        """,
        "sample_weighted": """
            WITH p AS (
              SELECT doc_id, n_chars,
                     n_chars::DOUBLE * 1000000 /
                     ((('0x' || substr(md5('3:' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % 1000000) + 1) AS pri
              FROM documents WHERE n_chars > 0)
            SELECT doc_id, n_chars, round(pri, 4) AS priority
            FROM p ORDER BY pri DESC, doc_id ASC LIMIT 50
        """,
        "sample_mixture": """
            WITH c AS (
              SELECT source, COUNT(*)::BIGINT AS n FROM documents
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
            cuts AS (
              SELECT source,
                     least(1000000, round((CASE source
                         WHEN 'src0' THEN 40 WHEN 'src1' THEN 20
                         ELSE 10000 END)::DOUBLE * 1000000 / n)::BIGINT)
                       AS cut
              FROM c)
            SELECT d.doc_id, d.source, d.lang
            FROM documents d JOIN cuts ON d.source = cuts.source
            WHERE ('0x' || substr(md5('5:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                  % 1000000 < cut
        """,
        # token-budget mixture (operators/sampling.token_mixture_sample):
        # per-source cut = round(target_tokens * 1e6 / sum(n_chars))
        "sample_token_mixture": """
            WITH c AS (
              SELECT source, SUM(n_chars)::BIGINT AS tok FROM documents
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
            cuts AS (
              SELECT source,
                     least(1000000, round((CASE source
                         WHEN 'src0' THEN 3000 WHEN 'src1' THEN 1500
                         ELSE 10000000 END)::DOUBLE * 1000000 / tok)::BIGINT)
                       AS cut
              FROM c)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN cuts ON d.source = cuts.source
            WHERE ('0x' || substr(md5('5:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                  % 1000000 < cut
        """,
        "sample_hash": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT
                  % 1000000 < 100000
        """,
        "sample_split": """
            WITH b AS (
              SELECT doc_id,
                ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 8))::BIGINT
                % 1000000 AS bkt
              FROM documents)
            SELECT doc_id,
              CASE WHEN bkt < 800000 THEN 'train'
                   WHEN bkt < 900000 THEN 'val'
                   ELSE 'test' END AS split
            FROM b
        """,
        "sample_per_group": """
            WITH b AS (
              SELECT doc_id, lang,
                ('0x' || substr(md5('11:' || doc_id::VARCHAR), 1, 8))::BIGINT
                % 1000000 AS bkt
              FROM documents),
            r AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY bkt, doc_id) AS rk
              FROM b)
            SELECT doc_id, lang FROM r WHERE rk <= 5
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('3:' || doc_id::VARCHAR), 1, 8))::BIGINT
                  % 1000000
                  < CASE WHEN lang = 'en' THEN 200000
                         WHEN lang = 'de' THEN 1000000
                         ELSE 50000 END
        """,
        "hybrid_rrf_topk": f"""
            WITH {_HASHED_EMBED_CTES},{_SQL_BM25},
            lex AS (
              SELECT doc_id, ROW_NUMBER() OVER (
                       ORDER BY bm25 DESC, doc_id ASC)::INT AS lex_rank
              FROM (SELECT * FROM scored WHERE bm25 > 0
                    ORDER BY bm25 DESC, doc_id ASC LIMIT 20)),
            q AS (SELECT embedding AS qv FROM emb WHERE doc_id = 0),
            sem0 AS (
              SELECT e.doc_id,
                     round(list_cosine_similarity(e.embedding, q.qv), 6)
                       AS cosine_sim
              FROM emb e, q WHERE e.doc_id <> 0
              ORDER BY cosine_sim DESC, doc_id ASC LIMIT 20),
            sem AS (
              SELECT doc_id, ROW_NUMBER() OVER (
                       ORDER BY cosine_sim DESC, doc_id ASC)::INT AS sem_rank
              FROM sem0)
            SELECT coalesce(le.doc_id, se.doc_id) AS doc_id,
                   le.lex_rank, se.sem_rank,
                   round(coalesce(1.0 / (60 + le.lex_rank), 0)
                         + coalesce(1.0 / (60 + se.sem_rank), 0), 6) AS rrf
            FROM lex le FULL OUTER JOIN sem se ON le.doc_id = se.doc_id
            ORDER BY rrf DESC, doc_id ASC LIMIT 10
        """,
        "bloom_tokens": """
            WITH tok AS (
              SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
                                                 t -> t != '')) AS value
              FROM documents),
            ks AS (SELECT unnest([0, 1, 2, 3]) AS i),
            corpus_bits AS (
              SELECT DISTINCT
                ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || value),
                                1, 15))::BIGINT % 16384 AS bit
              FROM tok CROSS JOIN ks),
            probes AS (SELECT unnest(['table', 'spark', 'window', 'hash',
                                      'zz_absent_a', 'zz_absent_b'])
                         AS probe),
            probe_bits AS (
              SELECT probe,
                ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || probe),
                                1, 15))::BIGINT % 16384 AS bit
              FROM probes CROSS JOIN ks)
            SELECT probe,
                   bool_and(bit IN (SELECT bit FROM corpus_bits))
                     AS maybe_present,
                   bool_or(probe IN (SELECT value FROM tok))
                     AS actually_present
            FROM probe_bits GROUP BY probe ORDER BY probe
        """,
        "cms_token_counts": """
            WITH tok AS (
              SELECT unnest(list_filter(string_split(text, ' '),
                            t -> t != '')) AS tok
              FROM documents),
            rws AS (SELECT * FROM (VALUES (0), (1), (2), (3)) d(row)),
            counters AS (
              SELECT row,
                     ('0x' || substr(md5(row::VARCHAR || '|' || tok),
                                     1, 15))::BIGINT % 1024 AS bucket,
                     COUNT(*)::BIGINT AS cnt
              FROM tok CROSS JOIN rws GROUP BY 1, 2),
            q AS (SELECT DISTINCT tok AS value FROM tok),
            est AS (
              SELECT q.value,
                     MIN(coalesce(c.cnt, 0))::BIGINT AS est_count
              FROM q CROSS JOIN rws d
              LEFT JOIN counters c
                ON c.row = d.row
               AND c.bucket = ('0x' || substr(
                     md5(d.row::VARCHAR || '|' || q.value),
                     1, 15))::BIGINT % 1024
              GROUP BY q.value),
            ex AS (
              SELECT tok AS value, COUNT(*)::BIGINT AS exact_count
              FROM tok GROUP BY tok)
            SELECT value, est_count, exact_count
            FROM est JOIN ex USING (value) ORDER BY value
        """,
        # pairwise HLL overlap: the same register/estimate formulas as
        # hll_distinct_tokens, applied per group AND per merged pair
        # (union = bucket-wise MAX of the two groups' registers)
        # cohort/retention: day index = whole days from the fixed NTZ
        # epoch (Spark timestampdiff(DAY) == DuckDB datediff('day')
        # when the epoch is midnight — the sessions-family discipline)
        # JL projection: same content-addressed sign matrix, same
        # lattice rounding as the kmeans family; projected vectors are
        # exact bigint sums so both queries replay bit-for-bit
        "embed_jl_project": f"""
            WITH {_SQL_JL_PROJ}
            SELECT vec_id, j, y FROM proj WHERE vec_id < 40
        """,
        "jl_recall": f"""
            WITH {_SQL_JL_PROJ},
            qp AS (SELECT j, y AS qy FROM proj WHERE vec_id = 0),
            appr AS (
              SELECT p.vec_id,
                     round(SUM(p.y * qp.qy)::DOUBLE
                           / (sqrt(SUM(p.y * p.y)::DOUBLE)
                              * sqrt(SUM(qp.qy * qp.qy)::DOUBLE)), 6) AS cs
              FROM proj p JOIN qp USING (j)
              WHERE p.vec_id <> 0
              GROUP BY p.vec_id
              ORDER BY cs DESC, vec_id ASC LIMIT 10),{_SQL_QUERY_VEC},{_SQL_EXACT_TOP10}{_SQL_RECALL_AT_10}""",
        "cohort_retention": """
            WITH uw AS (
              SELECT DISTINCT user_id AS u,
                     FLOOR(datediff('day',
                           TIMESTAMP '2024-01-01 00:00:00', ts)
                           / 7)::BIGINT AS w
              FROM events),
            firsts AS (SELECT u, MIN(w) AS cw FROM uw GROUP BY u),
            sizes AS (
              SELECT cw, COUNT(DISTINCT u)::BIGINT AS cohort_size
              FROM firsts GROUP BY cw),
            ret AS (
              SELECT f.cw AS cohort_period,
                     (uw.w - f.cw)::BIGINT AS period_offset,
                     COUNT(DISTINCT uw.u)::BIGINT AS n_active
              FROM uw JOIN firsts f USING (u) GROUP BY 1, 2)
            SELECT r.cohort_period, r.period_offset, r.n_active,
                   s.cohort_size,
                   round(r.n_active::DOUBLE / s.cohort_size, 6) AS retention
            FROM ret r JOIN sizes s ON r.cohort_period = s.cw
            ORDER BY cohort_period, period_offset
        """,
        "zorder_stats": f"""
            WITH codes AS (
              SELECT (user_id % 256)::INT AS x, (event_id % 256)::INT AS y
              FROM events),
            z AS (SELECT x, y, ({zterms}) AS zkey FROM codes)
            SELECT (zkey >> 10)::INT AS zbucket, COUNT(*)::BIGINT AS n,
                   min(x) AS x_min, max(x) AS x_max,
                   min(y) AS y_min, max(y) AS y_max
            FROM z GROUP BY zbucket ORDER BY zbucket
        """,
        "active_users": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u,
                     datediff('day', TIMESTAMP '2024-01-01 00:00:00', ts)
                         ::BIGINT AS d
              FROM events),
            days AS (SELECT DISTINCT d AS day FROM ud),
            dau AS (
              SELECT d AS day, COUNT(DISTINCT u)::BIGINT AS dau
              FROM ud GROUP BY 1),
            wau AS (
              SELECT days.day, COUNT(DISTINCT ud.u)::BIGINT AS wau
              FROM days JOIN ud
                ON ud.d <= days.day AND ud.d > days.day - 7
              GROUP BY days.day)
            SELECT day, dau, wau FROM dau JOIN wau USING (day)
            ORDER BY day
        """,
        "vocab_overlap_hll": f"""
            WITH {_SQL_HLL_BY_LANG},
            pairs AS (
              SELECT a.grp AS ga, a.est_distinct AS est_a,
                     b.grp AS gb, b.est_distinct AS est_b
              FROM fin a JOIN fin b ON a.grp < b.grp),
            uregs AS (
              SELECT p.ga, p.gb, r.bucket, MAX(r.max_rank) AS max_rank
              FROM (SELECT ga, gb FROM pairs) p
              JOIN regs r ON r.grp = p.ga OR r.grp = p.gb
              GROUP BY 1, 2, 3),
            estu AS (
              SELECT ga, gb,
                     SUM(1::BIGINT << (49 - max_rank))::BIGINT AS si,
                     COUNT(*)::BIGINT AS nz
              FROM uregs GROUP BY ga, gb),
            finu AS (
              SELECT ga, gb, {_SQL_HLL_ESTIMATE} AS est_union
              FROM estu)
            SELECT p.ga AS group_a, p.gb AS group_b,
                   p.est_a, p.est_b, u.est_union,
                   round(p.est_a + p.est_b - u.est_union, 3) AS est_overlap,
                   round(round(p.est_a + p.est_b - u.est_union, 3)
                         / u.est_union, 6) AS est_jaccard
            FROM pairs p JOIN finu u USING (ga, gb)
            ORDER BY group_a, group_b
        """,
        "hll_distinct_tokens": f"""
            WITH {_SQL_HLL_BY_LANG},
            ex AS (
              SELECT grp, COUNT(DISTINCT tok)::BIGINT AS exact_distinct
              FROM tok GROUP BY grp)
            SELECT f.grp AS lang, est_distinct, exact_distinct,
                   round(abs(est_distinct - exact_distinct)
                         / exact_distinct * 100, 3) AS rel_err_pct
            FROM fin f JOIN ex USING (grp) ORDER BY lang
        """,
        "inverted_index": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                            t -> t != '')) AS term
              FROM documents),
            tf AS (
              SELECT term, doc_id, COUNT(*)::BIGINT AS tf
              FROM tok GROUP BY 1, 2),
            agg AS (
              SELECT term,
                COUNT(*)::BIGINT AS df,
                SUM(tf)::BIGINT AS total_tf,
                LEAST(COUNT(*), 8)::BIGINT AS postings_len,
                array_to_string(list_transform(
                  list_slice(list_sort(
                    list(struct_pack(d := doc_id, t := tf))), 1, 8),
                  r -> r.d || ':' || r.t), ',') AS postings
              FROM tf GROUP BY term)
            SELECT term, df, total_tf, postings_len, postings
            FROM agg WHERE df >= 5
            ORDER BY df DESC, term ASC LIMIT 30
        """,
        "source_tfidf": """
            WITH tok AS (
              SELECT source,
                     unnest(list_filter(string_split(text, ' '),
                            t -> t != '')) AS term
              FROM documents),
            pairs AS (
              SELECT source, term, COUNT(*)::BIGINT AS tf
              FROM tok WHERE len(term) >= 3 GROUP BY 1, 2),
            dfg AS (
              SELECT term, COUNT(*)::BIGINT AS df_groups
              FROM pairs GROUP BY term),
            ng AS (
              SELECT COUNT(DISTINCT source)::BIGINT AS n_groups
              FROM documents),
            scored AS (
              SELECT source, p.term, tf, df_groups,
                     round(tf * ln(n_groups::DOUBLE / df_groups), 6) AS tfidf
              FROM pairs p JOIN dfg USING (term), ng)
            SELECT source, term, tf, df_groups, tfidf, rank FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY tfidf DESC, term ASC)::INT AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "bm25_topk": f"""
            WITH {_SQL_BM25}
            SELECT doc_id, tf_0 AS tf_table, tf_1 AS tf_spark,
                   tf_2 AS tf_join, tf_3 AS tf_query, bm25
            FROM scored WHERE bm25 > 0
            ORDER BY bm25 DESC, doc_id ASC LIMIT 20
        """,
    }
