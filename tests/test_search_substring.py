"""Exact-substring dedup (Lee et al. n-gram formulation), Gopher
repetition metrics, PII census, BM25 retrieval — hand-computed
expectations on tiny corpora."""

from __future__ import annotations

import math

import pytest

from rca_pdf_extraction_pipeline_spark.operators import search, substring_dedup
from rca_pdf_extraction_pipeline_spark.operators.textanalysis import (
    pii_stats,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


# ---- exact-substring dedup ------------------------------------------------

SHARED = "one two three four five six seven eight nine ten"  # 10 tokens


@pytest.fixture(scope="module")
def dup_corpus(spark):
    return _docs(spark, [
        ("a", f"alpha beta {SHARED} gamma delta"),       # shared at tok 2..11
        ("b", f"{SHARED} epsilon zeta eta theta iota"),  # shared at tok 0..9
        ("c", "unrelated words only here nothing repeats at all in this doc"),
    ])


def test_duplicated_ranges_maximal(dup_corpus):
    got = {(r["doc_id"], r["start_tok"], r["end_tok"], r["n_dup_tokens"])
           for r in substring_dedup.duplicated_ranges(dup_corpus, k=8).collect()}
    # 10 shared tokens => k-gram starts span 3 positions, one maximal range
    assert got == {("a", 2, 11, 10), ("b", 0, 9, 10)}


def test_duplicated_ranges_min_tokens_filter(dup_corpus):
    got = substring_dedup.duplicated_ranges(dup_corpus, k=8, min_tokens=11).collect()
    assert got == []


def test_trim_duplicated_ranges_rewrites(dup_corpus):
    """The removal step: the shared run is cut from BOTH docs, survivors
    keep original order, untouched docs pass through verbatim."""
    got = {r["doc_id"]: r
           for r in substring_dedup.trim_duplicated_ranges(
               dup_corpus, k=8).collect()}
    assert got["a"]["clean_text"] == "alpha beta gamma delta"
    assert (got["a"]["n_tokens"], got["a"]["n_removed"]) == (14, 10)
    assert got["b"]["clean_text"] == "epsilon zeta eta theta iota"
    assert (got["b"]["n_tokens"], got["b"]["n_removed"]) == (15, 10)
    assert got["c"]["clean_text"] == \
        "unrelated words only here nothing repeats at all in this doc"
    assert got["c"]["n_removed"] == 0

    # a doc that IS a duplicated range trims to empty
    both = _docs(dup_corpus.sparkSession, [("x", SHARED), ("y", SHARED)])
    trimmed = {r["doc_id"]: r for r in
               substring_dedup.trim_duplicated_ranges(both, k=8).collect()}
    assert trimmed["x"]["clean_text"] == trimmed["y"]["clean_text"] == ""
    assert trimmed["x"]["n_removed"] == 10

    # partition invariance: ranges are aggregates of (id, pos)
    again = {r["doc_id"]: r["clean_text"]
             for r in substring_dedup.trim_duplicated_ranges(
                 dup_corpus.repartition(5), k=8).collect()}
    assert again == {k: v["clean_text"] for k, v in got.items()}


def test_within_doc_repeat_is_not_cross_doc_dup(spark):
    d = _docs(spark, [
        ("solo", f"{SHARED} filler {SHARED}"),  # repeats only inside one doc
        ("other", "totally different content with no overlap whatsoever ok"),
    ])
    assert substring_dedup.duplicated_ranges(d, k=8).collect() == []


def test_short_docs_emit_no_grams(spark):
    d = _docs(spark, [("x", "a b c"), ("y", "a b c")])
    assert substring_dedup.duplicated_ranges(d, k=8).collect() == []


def test_duplication_profile(dup_corpus):
    rows = {r["doc_id"]: r for r in
            substring_dedup.duplication_profile(dup_corpus, k=8).collect()}
    assert rows["a"]["n_tokens"] == 14 and rows["a"]["dup_tokens"] == 10
    assert rows["a"]["dup_frac"] == pytest.approx(round(10 / 14, 6))
    assert rows["c"]["dup_tokens"] == 0 and rows["c"]["dup_frac"] == 0.0


def test_two_disjoint_ranges_sum_in_profile(spark):
    other = "p q r s t u v w"  # 8 tokens, its own duplicated unit
    d = _docs(spark, [
        ("a", f"{SHARED} mid1 mid2 {other}"),
        ("b", f"{SHARED} xxx yyy zzz www qqq {other}"),
    ])
    ranges = substring_dedup.duplicated_ranges(d, k=8).collect()
    a_ranges = sorted((r["start_tok"], r["end_tok"])
                      for r in ranges if r["doc_id"] == "a")
    assert a_ranges == [(0, 9), (12, 19)]
    prof = {r["doc_id"]: r["dup_tokens"]
            for r in substring_dedup.duplication_profile(d, k=8).collect()}
    assert prof["a"] == 18


# ---- Gopher repetition metrics --------------------------------------------

def test_repetition_stats_uniform_doc(spark):
    # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] -> top "a b" cnt 3
    # mass(a b)=3*3=9, mass(b a)=2*3=6, top2 = 9/15
    d = _docs(spark, [("r", "a b a b a b")])
    row = repetition_stats(d).collect()[0]
    assert row["top_2gram_frac"] == pytest.approx(round(9 / 15, 6))
    # 5-grams: [a b a b a, b a b a b] each once -> dup5 = 0
    assert row["dup_5gram_frac"] == 0.0


def test_repetition_stats_dup5(spark):
    # 12 tokens "x y z w v" repeated: 5-gram "x y z w v" occurs twice
    d = _docs(spark, [("r", "x y z w v x y z w v")])
    row = repetition_stats(d).collect()[0]
    assert row["dup_5gram_frac"] > 0.0
    assert 0.0 < row["top_2gram_frac"] < 1.0


def test_repetition_stats_short_doc_zero(spark):
    d = _docs(spark, [("s", "single")])
    row = repetition_stats(d).collect()[0]
    assert row["top_2gram_frac"] == 0.0 and row["dup_5gram_frac"] == 0.0


# ---- PII census ------------------------------------------------------------

def test_pii_stats(spark):
    d = _docs(spark, [
        ("p", "mail bob@x.com and alice@y.org twice bob@x.com "
              "link https://a.example.com/path?q=1 and http://b.net/z"),
        ("q", "no contacts here"),
    ])
    rows = {r["doc_id"]: r for r in pii_stats(d).collect()}
    assert rows["p"]["n_emails"] == 3 and rows["p"]["n_urls"] == 2
    assert rows["p"]["email_domains"] == "x.com,y.org"
    assert "bob@x.com" not in rows["p"]["masked_text"]
    assert rows["p"]["masked_text"].count("<EMAIL>") == 3
    assert rows["q"]["n_emails"] == 0 and rows["q"]["email_domains"] == ""
    assert rows["q"]["masked_text"] == "no contacts here"


# ---- BM25 ------------------------------------------------------------------

def test_bm25_hand_computed(spark):
    d = _docs(spark, [
        ("d1", "cat dog cat"),
        ("d2", "cat fish"),
        ("d3", "bird bird bird"),
    ])
    rows = search.bm25_topk(d, ["cat"], k=10).collect()
    # df=2, N=3 -> idf = ln(1 + 1.5/2.5); avgdl = (3+2+3)/3
    avgdl = 8 / 3
    idf = math.log(1 + 1.5 / 2.5)

    def score(tf, dl):
        return idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))

    got = {r["doc_id"]: r["bm25"] for r in rows}
    assert set(got) == {"d1", "d2"}  # d3 has no query term
    assert got["d1"] == pytest.approx(round(score(2, 3), 6))
    assert got["d2"] == pytest.approx(round(score(1, 2), 6))
    # higher tf ranks first
    assert [r["doc_id"] for r in rows] == ["d1", "d2"]


def test_bm25_ties_break_by_id(spark):
    d = _docs(spark, [("b", "x y"), ("a", "x y"), ("c", "z z")])
    rows = search.bm25_topk(d, ["x"], k=10).collect()
    assert [r["doc_id"] for r in rows] == ["a", "b"]


def test_bm25_requires_terms(spark):
    d = _docs(spark, [("a", "x")])
    with pytest.raises(ValueError):
        search.bm25_topk(d, [])


def test_max_docs_per_gram_drops_boilerplate(spark):
    footer = "standard footer text appears on every single page here"
    d = _docs(spark, [
        ("a", f"unique alpha content one two three {footer}"),
        ("b", f"other beta words four five six seven {footer}"),
        ("c", f"third gamma tokens eight nine ten ok {footer}"),
        ("d", f"fourth delta words ok fine yes done {footer}"),
    ])
    # unlimited: the shared 9-token footer reports as duplication
    assert substring_dedup.duplicated_ranges(d, k=8).count() > 0
    # capped at 3 docs: a gram in all 4 docs is boilerplate, not dup
    capped = substring_dedup.duplicated_ranges(d, k=8, max_docs_per_gram=3)
    assert capped.count() == 0


def test_ranges_match_bruteforce_on_random_corpora(spark):
    """Property: reported ranges == brute-force recomputation (every
    duplicated k-gram start covered, maximality, nothing spurious) on
    seeded random corpora with planted shared runs."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        shared = [f"s{i}" for i in range(rng.randint(4, 9))]
        docs = []
        for d in range(6):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 15))]
            if rng.random() < 0.7:
                ins = rng.randint(0, len(toks))
                toks = toks[:ins] + shared + toks[ins:]
            docs.append((str(d), " ".join(toks)))

        k = 4
        # brute force in python
        tok_lists = {i: t.split() for i, t in docs if t}
        gram_docs = {}
        for i, toks in tok_lists.items():
            for p in range(len(toks) - k + 1):
                g = tuple(toks[p:p + k])
                gram_docs.setdefault(g, set()).add(i)
        expect = set()
        for i, toks in tok_lists.items():
            dup_pos = [p for p in range(len(toks) - k + 1)
                       if len(gram_docs[tuple(toks[p:p + k])]) >= 2]
            # merge consecutive
            run = []
            for p in dup_pos:
                if run and p == run[-1] + 1:
                    run.append(p)
                else:
                    if run:
                        expect.add((i, run[0], run[-1] + k - 1))
                    run = [p]
            if run:
                expect.add((i, run[0], run[-1] + k - 1))

        got = {(r["doc_id"], r["start_tok"], r["end_tok"])
               for r in substring_dedup.duplicated_ranges(
                   _docs(spark, docs), k=k).collect()}
        assert got == expect, f"seed={seed}"


# ---- unigram LM scorer ------------------------------------------------------

def test_unigram_logprob_typicality(spark):
    import math

    from rca_pdf_extraction_pipeline_spark.operators.textanalysis import (
        unigram_logprob,
    )

    # corpus: "a" dominates; doc "rare" uses the one rare token
    d = _docs(spark, [
        ("common", "a a a a"),
        ("mix", "a a b a"),
        ("rare", "b"),
        ("empty", ""),
    ])
    rows = {r["doc_id"]: r for r in unigram_logprob(d).collect()}
    # counts: a=7, b=2, total=9
    lp_a = round(math.log(7 / 9) * 1e6) / 1e6
    lp_b = round(math.log(2 / 9) * 1e6) / 1e6
    assert rows["common"]["mean_logprob"] == pytest.approx(round(lp_a, 6))
    assert rows["rare"]["mean_logprob"] == pytest.approx(round(lp_b, 6))
    # typical doc scores higher (closer to 0) than the atypical one
    assert rows["common"]["mean_logprob"] > rows["rare"]["mean_logprob"]
    assert rows["mix"]["mean_logprob"] == pytest.approx(
        round((3 * lp_a + lp_b) / 4, 6))
    assert rows["empty"]["n_tokens"] == 0
    assert rows["empty"]["mean_logprob"] == 0.0


# ---- benchmark decontamination ---------------------------------------------

def test_decontamination(spark):
    bench = _docs(spark, [("q1", "what is the capital of france paris "
                                 "obviously everyone knows that")])
    corpus = _docs(spark, [
        ("clean", "totally unrelated training text about cooking pasta "
                  "with garlic and olive oil at home"),
        ("leak", "some filler then what is the capital of france paris "
                 "obviously everyone knows that end"),
    ])
    rep = {r["doc_id"]: r["n_contaminated_positions"]
           for r in substring_dedup.contamination_report(
               corpus, bench, k=8).collect()}
    assert "leak" in rep and "clean" not in rep
    assert rep["leak"] >= 1

    kept = substring_dedup.decontaminate(corpus, bench, k=8).collect()
    assert [r["doc_id"] for r in kept] == ["clean"]


# ---- chunking & packing -----------------------------------------------------

def test_chunk_documents_sliding_windows(spark):
    from rca_pdf_extraction_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    toks = [f"t{i}" for i in range(10)]
    d = _docs(spark, [("a", " ".join(toks)), ("e", "")])
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
         for r in chunk_documents(d, chunk_tokens=4, stride=3).collect()))
    # starts 0,3,6,9: windows [0:4],[3:7],[6:10],[9:10]
    assert rows == [
        ("a", 0, "t0 t1 t2 t3", 4),
        ("a", 1, "t3 t4 t5 t6", 4),
        ("a", 2, "t6 t7 t8 t9", 4),
        ("a", 3, "t9", 1),
    ]
    # no-overlap default reconstructs the document exactly
    joined = " ".join(r["chunk_text"] for r in sorted(
        chunk_documents(d, chunk_tokens=4).collect(),
        key=lambda r: r["chunk_idx"]))
    assert joined == " ".join(toks)
    with pytest.raises(ValueError):
        chunk_documents(d, chunk_tokens=4, stride=5)


def test_pack_documents_budget_bins(spark):
    from rca_pdf_extraction_pipeline_spark.operators.chunking import (
        pack_documents,
    )

    d = _docs(spark, [
        ("01", "a " * 300), ("02", "b " * 300), ("03", "c " * 300),
        ("04", "d " * 100),
    ])
    out = {r["doc_id"]: r["bin_id"] for r in
           pack_documents(d).collect()}
    # cumsum starts: 0, 300, 600, 900 -> bins 0, 0, 1, 1
    assert out == {"01": 0, "02": 0, "03": 1, "04": 1}
    # deterministic under repartition
    out2 = {r["doc_id"]: r["bin_id"] for r in
            pack_documents(d.repartition(5)).collect()}
    assert out2 == out


def test_pack_sequences_stream_cut(spark):
    """GPT-style packing: id-ordered token stream cut into seq_len rows,
    documents SPLIT at boundaries (unlike pack_documents), only the
    final sequence incomplete; eod sentinel terminates each document
    inside the stream."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.functions import text as T
    from rca_pdf_extraction_pipeline_spark.operators.chunking import (
        pack_sequences,
    )

    d = _docs(spark, [("01", "a b c"), ("02", "d e"), ("03", "f g h i")])
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    rows = {r["seq_id"]: r for r in pack_sequences(toks, seq_len=4).collect()}
    # stream: a b c d | e f g h | i  — doc 02 splits across seqs 0/1
    assert [list(rows[i]["tokens"]) for i in range(3)] == [
        ["a", "b", "c", "d"], ["e", "f", "g", "h"], ["i"]]
    assert [rows[i]["n_docs"] for i in range(3)] == [2, 2, 1]
    assert [rows[i]["complete"] for i in range(3)] == [True, True, False]
    # eod: a b c <eod> | d e <eod> f | g h i <eod>
    rows2 = {r["seq_id"]: list(r["tokens"]) for r in
             pack_sequences(toks, seq_len=4, eod="<eod>").collect()}
    assert rows2 == {0: ["a", "b", "c", "<eod>"],
                     1: ["d", "e", "<eod>", "f"],
                     2: ["g", "h", "i", "<eod>"]}
    with pytest.raises(ValueError):
        pack_sequences(toks, seq_len=0)


def test_pack_sequences_stream_equality_and_invariance(spark):
    """Flattening the packed sequences in seq_id order reproduces the
    concatenation of every document's tokens in id order EXACTLY (no
    token lost/duplicated/reordered at any range or sequence boundary);
    empty documents contribute nothing; the cut is invariant to input
    partitioning and to the range decomposition width."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.functions import text as T
    from rca_pdf_extraction_pipeline_spark.operators.chunking import (
        pack_sequences,
    )

    docs = [(f"{i:03d}", " ".join(f"t{i}_{j}" for j in range(i % 7)))
            for i in range(40)]  # lengths 0..6, several empty docs
    d = _docs(spark, docs)
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    out = pack_sequences(toks, seq_len=5).orderBy("seq_id").collect()
    got_stream = [t for r in out for t in r["tokens"]]
    want_stream = [f"t{i}_{j}" for i in range(40) for j in range(i % 7)]
    assert got_stream == want_stream
    assert all(r["complete"] == (len(r["tokens"]) == 5) for r in out)
    assert [r["seq_id"] for r in out] == list(range(len(out)))
    out2 = pack_sequences(toks.repartition(7), seq_len=5,
                          num_ranges=3).orderBy("seq_id").collect()
    assert [list(r["tokens"]) for r in out2] == [list(r["tokens"])
                                                 for r in out]


def test_normalize_for_dedup_collapses_variants(spark):
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.functions.text import (
        normalize_for_dedup,
    )
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    d = _docs(spark, [
        ("1", "Hello, World!  How are you?"),
        ("2", "hello world how are you"),
        ("3", "HELLO  WORLD -- HOW ARE YOU!!"),
        ("4", "entirely different text"),
    ])
    n = d.withColumn("text", normalize_for_dedup(F.col("text")))
    texts = {r["doc_id"]: r["text"] for r in n.collect()}
    assert texts["1"] == texts["2"] == texts["3"] == "hello world how are you"
    groups = dedup.exact_duplicates(n).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 3 and groups[0]["canonical_id"] == "1"
