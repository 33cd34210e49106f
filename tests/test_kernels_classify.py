"""C1/C2 classification tests (reference core_analysis.py:438-516,
page_classifier.py:51-125): the C1 pandas kernel, its column twin, and
the C2 column cascade."""

import pandas as pd
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.functions.classify_expr import (
    gap_regular,
    keyword_cascade,
    structural_cascade,
)
from rca_pdf_extraction_pipeline_spark.kernels.classify import (
    classify_pages_keyword,
)
from rca_pdf_extraction_pipeline_spark.operators.extraction import (
    classify_flat,
    flat_from_batch,
)
from rca_pdf_extraction_pipeline_spark.sources import fixtures

TABLE_TEXT = "SUMMARY OF ROUTINE CORE ANALYSES RESULTS Core Number Sample Number"
PLOT_TEXT = "PROFILE PLOT Core Analysis Results Depth vs Porosity"
COVER_TEXT = "TABLE OF CONTENTS CORE LABORATORIES Advanced Technology Center"
OTHER_TEXT = "Page 150 Figure 12"
DENSE_TEXT = ("The laboratory team documented each step of the measurement "
              "campaign in the daily log. " * 8)
SUMMARY_PLOT_TEXT = "SUMMARY OF ROUTINE CORE ANALYSES and also a CROSS PLOT"
THREE_KEYWORD_TEXT = "Core Number Sample Number Permeability readings " + "x" * 60
LOWER_KEYWORD_TEXT = "core number sample number permeability " + "y" * 60
DENSE_ONE_KEYWORD_TEXT = DENSE_TEXT + " porosity"  # table_score == 1, len > 500
MID_TEXT = "z" * 200
#: every text the C1 kernel tests below classify, except None: the kernel
#: reads None as "" (other, 0.60) while keyword_cascade falls through to
#: (other, 0.50); classify_flat never builds a NULL page text
KERNEL_TEXTS = [TABLE_TEXT, PLOT_TEXT, COVER_TEXT, OTHER_TEXT, DENSE_TEXT,
                SUMMARY_PLOT_TEXT, THREE_KEYWORD_TEXT, LOWER_KEYWORD_TEXT,
                DENSE_ONE_KEYWORD_TEXT, MID_TEXT, "", None]


def run(texts):
    return classify_pages_keyword(pd.Series(texts))


def test_cascade_priorities():
    out = run([TABLE_TEXT, PLOT_TEXT, COVER_TEXT, OTHER_TEXT, DENSE_TEXT])
    assert list(out.page_type) == ["table", "plot", "cover", "other", "text"]
    assert list(out.confidence) == [0.95, 0.85, 0.80, 0.60, 0.65]


def test_summary_beats_plot():
    out = run([SUMMARY_PLOT_TEXT])
    assert out.iloc[0].page_type == "table"
    assert out.iloc[0].confidence == 0.95


def test_three_table_keywords_rule():
    out = run([THREE_KEYWORD_TEXT])
    assert out.iloc[0].page_type == "table"
    assert out.iloc[0].confidence == 0.70
    assert out.iloc[0].reason == "Contains 3 table keywords"


def test_keyword_match_is_case_insensitive():
    assert run([LOWER_KEYWORD_TEXT]).iloc[0].page_type == "table"


def test_dense_text_with_table_keyword_falls_through_to_other():
    out = run([DENSE_ONE_KEYWORD_TEXT])
    assert out.iloc[0].page_type == "other"
    assert out.iloc[0].confidence == 0.50


def test_mid_length_text_is_other_50():
    out = run([MID_TEXT])
    assert out.iloc[0].page_type == "other"
    assert out.iloc[0].confidence == 0.50


def test_empty_text_is_other_minimal():
    out = run(["", None])
    assert list(out.page_type) == ["other", "other"]
    assert list(out.confidence) == [0.60, 0.60]


# --- C1 twins: pandas kernel == column cascade ----------------------------

def _assert_c1_twins_equal(spark, texts):
    want = list(classify_pages_keyword(pd.Series(texts))
                .itertuples(index=False, name=None))
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = [tuple(r["c"]) for r in
           df.select("i", keyword_cascade(F.col("text")).alias("c"))
             .orderBy("i").collect()]
    assert got == want


def test_c1_twins_agree_on_kernel_texts(spark):
    _assert_c1_twins_equal(spark, KERNEL_TEXTS)


def test_c1_twins_agree_on_fixture_page_texts(spark):
    """Every page text the extraction path classifies over the fixture
    docs: ``classify_flat``'s (page_type, confidence, reason) and
    ``keyword_cascade`` over its ``text`` column are identical."""
    docs = ([fixtures.build_golden_doc(), fixtures.build_media_nosample_doc(),
             fixtures.build_grid_doc(), fixtures.build_vector_art_doc()]
            + fixtures.build_parser_branch_docs()
            + fixtures.build_metadata_docs() + fixtures.build_classify_docs()
            + fixtures.build_skew_docs() + fixtures.build_malformed_docs())
    cls = classify_flat(flat_from_batch(fixtures.docs_to_batch(docs)))
    assert set(cls["page_type"]) >= {"table", "plot", "cover", "text", "other"}
    _assert_c1_twins_equal(spark, list(cls["text"]))


# --- C2 structural ---------------------------------------------------------

_C2_INPUTS = ["h_lines", "v_lines", "text_blocks", "char_count",
              "image_coverage", "gap_regular", "page_number"]


def c2(spark, **kw):
    """structural_cascade over one stats row -> (page_type, confidence)."""
    base = dict(page_number=2, h_lines=0, v_lines=0, text_blocks=0,
                char_count=0, image_coverage=0.0, gap_regular=False)
    base.update(kw)
    df = spark.createDataFrame(
        [tuple(base[c] for c in _C2_INPUTS)],
        "h_lines bigint, v_lines bigint, text_blocks bigint, "
        "char_count bigint, image_coverage double, gap_regular boolean, "
        "page_number bigint")
    c = structural_cascade(*(F.col(c) for c in _C2_INPUTS))
    return tuple(df.select(c.alias("c")).first()["c"])


def test_structural_blank(spark):
    assert c2(spark, char_count=3) == ("blank", 0.95)


def test_structural_grid_table(spark):
    assert c2(spark, h_lines=4, v_lines=5, text_blocks=6,
              char_count=900) == ("table", 0.9)


def test_structural_regular_lines_table(spark):
    assert c2(spark, h_lines=6, v_lines=0, text_blocks=4, char_count=900,
              gap_regular=True) == ("table", 0.75)


def test_structural_figure_and_narrative(spark):
    assert c2(spark, char_count=40, image_coverage=0.8)[0] == "figure"
    assert c2(spark, char_count=900, h_lines=1)[0] == "narrative"


def test_structural_first_page_cover(spark):
    assert c2(spark, page_number=1, char_count=200,
              image_coverage=0.3) == ("cover", 0.7)


def test_gap_regularity(spark):
    regular = [100.0, 120.0, 140.0, 160.0, 180.0]
    irregular = [100.0, 101.0, 150.0, 380.0]
    tight = [100.0, 101.0, 102.0, 103.0]  # avg gap < 5
    df = spark.createDataFrame(
        list(enumerate([regular, irregular, tight, [1.0]])),
        "i int, ys array<double>")
    out = df.select("i", gap_regular(F.col("ys")).alias("r")).orderBy("i")
    assert [r["r"] for r in out.collect()] == [True, False, False, False]
