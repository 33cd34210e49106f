"""URL curation family: canonicalization rules, URL-level dedup,
per-domain caps (C4/RefinedWeb stage-1 ops — operators/urls.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import urls


def _norm(spark, raw: list[str]) -> list[str]:
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    return [r["n"] for r in
            df.select(urls.normalize_url(F.col("url")).alias("n")).collect()]


def test_normalize_url_rules(spark):
    cases = {
        # scheme+host case, default port, fragment
        "HTTPS://WWW.Example.COM:443/A/b#frag": "https://www.example.com/A/b",
        # http default port; path case preserved
        "http://Example.com:80/Path": "http://example.com/Path",
        # non-default port kept
        "http://example.com:8080/x": "http://example.com:8080/x",
        # https with :80 is NOT default -> kept
        "https://example.com:80/x": "https://example.com:80/x",
        # tracking params dropped, survivor order preserved
        "https://e.com/p?utm_source=a&x=1&gclid=b&y=2": "https://e.com/p?x=1&y=2",
        # all params tracking -> '?' dropped
        "https://e.com/p?utm_campaign=a&fbclid=z": "https://e.com/p",
        # trailing slash trimmed; root path '/' collapses to host
        "https://e.com/a/b/": "https://e.com/a/b",
        "https://e.com/": "https://e.com",
        # no scheme: trimmed, otherwise untouched
        "  not-a-url  ": "not-a-url",
    }
    got = _norm(spark, list(cases))
    assert got == list(cases.values())


def test_domain_extraction(spark):
    df = spark.createDataFrame(
        [("https://WWW.news.Example.co:8443/x",),
         ("http://example.com/y",)], "url string")
    rows = df.select(urls.domain(F.col("url")).alias("apex"),
                     urls.domain(F.col("url"), apex=False).alias("host")) \
             .collect()
    assert (rows[0]["apex"], rows[0]["host"]) == ("example.co",
                                                  "news.example.co")
    assert (rows[1]["apex"], rows[1]["host"]) == ("example.com",
                                                  "example.com")


def test_domain_public_suffix_rule(spark):
    """Two-level public suffixes keep THREE labels: the bbc.co.uk family
    collapses to one registered domain; amazon.co.uk stays distinct from
    amazon.com; bare-suffix and single-label hosts degrade gracefully."""
    cases = {
        "https://bbc.co.uk/news": "bbc.co.uk",
        "https://news.bbc.co.uk/world": "bbc.co.uk",
        "http://WWW.BBC.CO.UK/sport": "bbc.co.uk",
        "https://amazon.co.uk/dp/1": "amazon.co.uk",
        "https://www.amazon.com/dp/1": "amazon.com",
        "https://shop.example.com.au/x": "example.com.au",
        "https://data.gov.uk/d": "data.gov.uk",
        "https://sub.deep.example.co.jp/x": "example.co.jp",
        # bare suffix host: no third label -> falls back to last two
        "https://co.uk/": "co.uk",
        # single-label host: no dot -> no registered domain
        "https://localhost:8080/x": "",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = [r["a"] for r in
           df.select(urls.domain(F.col("url")).alias("a")).collect()]
    assert got == list(cases.values())
    # the collapse actually merges cap/census keys
    assert urls.TWO_LEVEL_SUFFIXES == tuple(sorted(set(urls.TWO_LEVEL_SUFFIXES)))


@pytest.fixture(scope="module")
def url_corpus(spark):
    rows = [
        (0, "https://a.com/x?utm_source=f"),
        (1, "HTTPS://A.com/x"),            # dup of 0 after normalization
        (2, "https://a.com/x/"),           # dup of 0 (trailing slash)
        (3, "https://a.com/y"),
        (4, "http://b.org/1"), (5, "http://b.org/2"),
        (6, "http://b.org/3"), (7, "http://b.org/4"),
        (8, "https://sub.b.org/5"),        # same apex as 4-7
        (9, "https://c.net/only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_url_duplicates_keep_first(url_corpus):
    groups = urls.url_duplicates(url_corpus).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["url_norm"] == "https://a.com/x"
    assert (g["n_docs"], g["keep_id"], list(g["dup_ids"])) == (3, 0, [0, 1, 2])


def test_url_duplicates_listing_cap_is_visible(url_corpus):
    # max_ids truncates dup_ids to the smallest ids; the exact counts
    # and keep_id still cover the WHOLE group (viral-URL memory bound)
    g = urls.url_duplicates(url_corpus, max_ids=2).collect()[0]
    assert (g["n_docs"], g["keep_id"], list(g["dup_ids"])) == (3, 0, [0, 1])
    with pytest.raises(ValueError, match="max_ids"):
        urls.url_duplicates(url_corpus, max_ids=0)


def test_cap_per_domain_bounds_and_determinism(url_corpus):
    kept = urls.cap_per_domain(url_corpus, max_docs=3)
    by_dom = {}
    for r in kept.collect():
        by_dom.setdefault(r["apex_domain"], []).append(r["doc_id"])
    # b.org has 5 docs (4 direct + 1 subdomain) -> capped to lowest 3 ids
    assert sorted(by_dom["b.org"]) == [4, 5, 6]
    assert sorted(by_dom["a.com"]) == [0, 1, 2]   # 4 docs -> 3 kept
    assert by_dom["c.net"] == [9]
    # partitioning-invariant
    kept2 = {r["doc_id"] for r in
             urls.cap_per_domain(url_corpus.repartition(7), 3).collect()}
    assert kept2 == {r["doc_id"] for r in kept.collect()}
    with pytest.raises(ValueError):
        urls.cap_per_domain(url_corpus, 0)


def test_domain_stats_counts_dup_mass(url_corpus):
    rows = {r["apex_domain"]: (r["n_docs"], r["n_urls"])
            for r in urls.domain_stats(url_corpus).collect()}
    assert rows["a.com"] == (4, 2)   # 3 dups of one url + 1 unique
    assert rows["b.org"] == (5, 5)
    assert rows["c.net"] == (1, 1)


def test_url_ops_plan_hygiene(url_corpus):
    plan = urls.url_duplicates(url_corpus) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    plan2 = urls.cap_per_domain(url_corpus, 3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan2
    # one exchange: the domain-key window
    assert plan2.count("Exchange") == 1


def test_with_apex_domain_psl_snapshot(spark):
    """A PSL snapshot DataFrame drops in without code changes: 3-level
    registries (act.edu.au) and private suffixes (github.io) collapse
    correctly, longest suffix wins, unmatched hosts fall back to the
    default last-two rule, and a bare-suffix host has no registrable
    domain (empty)."""
    sfx = spark.createDataFrame(
        [("co.uk",), ("edu.au",), ("act.edu.au",), ("github.io",)],
        "suffix string")
    d = spark.createDataFrame([
        (0, "https://www.education.act.edu.au/school"),
        (1, "https://someschool.act.edu.au/"),
        (2, "https://user.github.io/repo"),
        (3, "https://github.io/"),
        (4, "https://news.bbc.co.uk/x"),
        (5, "https://www.amazon.com/x"),
        (6, "https://edu.au/"),
        (7, "https://deep.sub.example.github.io/"),
    ], "doc_id long, url string")
    got = {r["doc_id"]: r["apex_domain"]
           for r in urls.with_apex_domain(d, suffixes=sfx).collect()}
    assert got == {
        0: "education.act.edu.au",   # 3-level registry beats edu.au
        1: "someschool.act.edu.au",
        2: "user.github.io",         # private suffix
        3: "",                       # host IS the suffix: no reg. domain
        4: "bbc.co.uk",
        5: "amazon.com",             # no snapshot match -> default rule
        6: "",
        7: "example.github.io",
    }
    # the static path is unchanged when no snapshot is passed
    static = {r["doc_id"]: r["apex_domain"]
              for r in urls.with_apex_domain(d).collect()}
    assert static[4] == "bbc.co.uk" and static[5] == "amazon.com"
    # domain_stats / cap_per_domain thread the snapshot through
    stats = {r["apex_domain"] for r in
             urls.domain_stats(d, suffixes=sfx).collect()}
    assert "education.act.edu.au" in stats and "user.github.io" in stats
    plan = urls.with_apex_domain(d, suffixes=sfx) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_flag_blocked_parent_domain_and_categories(spark, url_corpus):
    bl = spark.createDataFrame(
        [("b.org", "ads"), ("b.org", "malware"), ("c.net", "adult"),
         ("A.COM", "tracking"),                   # case-folded on join
         ("cdn.eu.west.deep.io", "malware")],     # 5 labels: no depth cap
        "domain string, category string")
    deep = spark.createDataFrame(
        [(10, "https://img.cdn.eu.west.deep.io/a.png")],
        "doc_id long, url string")
    got = {r["doc_id"]: (r["blocked"], list(r["categories"]))
           for r in urls.flag_blocked(url_corpus.unionByName(deep),
                                      bl).collect()}
    assert got[4] == (True, ["ads", "malware"])   # direct + multi-category
    assert got[8] == (True, ["ads", "malware"])   # sub.b.org -> parent match
    assert got[9] == (True, ["adult"])
    assert got[0] == (True, ["tracking"])         # blocklist case-folded
    assert got[10] == (True, ["malware"])         # parent 5 labels deep
    assert len(got) == 11                         # every doc gets a row


def test_flag_blocked_clean_corpus_and_plan(spark):
    docs = spark.createDataFrame([(1, "https://www.fine.example/x")],
                                 "doc_id long, url string")
    bl = spark.createDataFrame([("bad.example.net", "ads")],
                               "domain string, category string")
    row = urls.flag_blocked(docs, bl).collect()[0]
    assert row["blocked"] is False and list(row["categories"]) == []
    q = urls.flag_blocked(docs, bl)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
