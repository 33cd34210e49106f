"""URL canonicalization, URL-level dedup and per-domain caps — the
stage-1 web-curation operators of C4 / RefinedWeb-style pipelines
(dedup by normalized URL before any content pass; cap any one domain's
share of the corpus so crawl-frontier skew doesn't become dataset skew).

Everything here is pure JVM column expressions (regexp_extract /
regexp_replace / higher-order array filter) — no Python in the row
path, one shuffle per keyed operator, and every function has an exact
DuckDB twin (same regexes) so the `__spark_entry__` oracle gate covers
the family end-to-end.

Scale notes (100 TB): `normalize_url` and `domain` are narrow
scan-stage expressions.  `url_duplicates` is the exact-dedup shape —
one 16-byte-digest shuffle with map-side combine.  `cap_per_domain`
is one hash exchange on the domain key + a rank window; domain keys
are Zipf-skewed by construction, which is exactly what AQE skew-join
splitting and the explicit salting in `operators/skew.py` exist for —
the cap itself BOUNDS the skew it defuses (at most ``max_docs`` rows
survive per domain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query parameters that identify a click, not a resource — dropping
#: them is the standard canonicalization step (utm_* per Google's
#: Urchin tracking module docs; fbclid/gclid/msclkid click ids; ref)
_TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref|ref_src)="

#: static subset of the Public Suffix List's two-level suffixes
#: (publicsuffix.org) — the high-traffic ccTLD second-level registries.
#: ``domain(apex=True)`` keeps THREE labels when the last two match this
#: set, so bbc.co.uk and news.bbc.co.uk both yield bbc.co.uk instead of
#: collapsing every UK site into "co.uk".  Deliberately inline (no
#: network, no file): ~60 entries covers the bulk of real crawl traffic;
#: a full PSL snapshot slots in as a broadcast set on a production
#: cluster (the expression shape is identical).  Sorted tuple so the
#: generated IN-list is deterministic across engines.
TWO_LEVEL_SUFFIXES: tuple[str, ...] = tuple(sorted({
    "ac.il", "ac.jp", "ac.nz", "ac.uk", "ac.za",
    "co.id", "co.il", "co.in", "co.jp", "co.ke", "co.kr", "co.nz",
    "co.th", "co.uk", "co.za",
    "com.ar", "com.au", "com.bd", "com.br", "com.cn", "com.eg",
    "com.hk", "com.mx", "com.my", "com.ng", "com.ph", "com.pk",
    "com.sa", "com.sg", "com.tr", "com.tw", "com.vn",
    "edu.au", "edu.cn",
    "gen.in", "go.jp", "go.kr", "gov.au", "gov.br", "gov.cn",
    "gov.uk", "gov.za", "govt.nz",
    "me.uk", "ne.jp", "net.au", "net.br", "net.cn", "net.in",
    "net.mx", "net.nz", "net.uk", "net.za",
    "or.jp", "or.kr", "org.au", "org.br", "org.cn", "org.il",
    "org.in", "org.mx", "org.nz", "org.uk", "org.za",
}))


def _split(url: Column) -> tuple[Column, Column, Column]:
    """(scheme, authority, rest) — rest keeps its leading '/' if any;
    fragment already stripped.  Unparseable urls yield empty scheme."""
    defrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(defrag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    authority = F.lower(F.regexp_extract(defrag, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]*)", 1))
    rest = F.regexp_extract(defrag, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*(.*)$", 1)
    return scheme, authority, rest


def normalize_url(url: Column) -> Column:
    """Canonical form: fragment stripped; scheme+host lowercased; the
    scheme's default port dropped (http:80 / https:443); tracking query
    params removed (order of the survivors preserved); an empty query
    loses its '?'; a path-only trailing slash is trimmed.  Urls with no
    ``scheme://`` are returned whitespace-trimmed, lowercased-scheme
    rules not applied (opaque ids stay comparable but untouched)."""
    scheme, authority, rest = _split(url)
    host = F.when(scheme == "http",
                  F.regexp_replace(authority, r":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(authority, r":443$", "")) \
            .otherwise(authority)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    kept = F.filter(F.split(query, "&"),
                    lambda p: ~p.rlike(_TRACKING_RE) & (p != ""))
    q_norm = F.when((query == "") | (F.size(kept) == 0), F.lit("")) \
              .otherwise(F.concat(F.lit("?"), F.array_join(kept, "&")))
    path_norm = F.when(path == "/", F.lit("")) \
                 .otherwise(F.regexp_replace(path, r"/$", ""))
    rebuilt = F.concat(scheme, F.lit("://"), host, path_norm, q_norm)
    return F.when(scheme == "", F.trim(url)).otherwise(rebuilt)


def domain(url: Column, apex: bool = True) -> Column:
    """Host with any ``www.`` prefix dropped; with ``apex=True``, the
    registered domain: the last TWO labels, or the last THREE when the
    last two are a two-level public suffix (:data:`TWO_LEVEL_SUFFIXES`
    — publicsuffix.org subset), so bbc.co.uk / news.bbc.co.uk both map
    to bbc.co.uk while amazon.co.uk stays distinct from amazon.com."""
    _, authority, _ = _split(url)
    host = F.regexp_replace(F.regexp_replace(authority, r":\d+$", ""),
                            r"^www\.", "")
    if not apex:
        return host
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    return F.when(last2.isin(*TWO_LEVEL_SUFFIXES) & (last3 != ""), last3) \
            .otherwise(last2)


#: deepest public suffix the PSL-join path matches (the real PSL's
#: longest entries are 4 labels, e.g. pvt.k12.ma.us)
MAX_SUFFIX_LEVELS = 4


def _last_labels(host: Column, k: int) -> Column:
    """The last ``k`` dot-separated labels of ``host`` ('' if fewer)."""
    return F.regexp_extract(host, r"([^.]+" + r"\.[^.]+" * (k - 1) + r")$", 1)


def with_apex_domain(docs: DataFrame,
                     suffixes: DataFrame | None = None) -> DataFrame:
    """Append the registered (apex) domain of ``url``.

    With ``suffixes=None`` this is exactly the static column expression
    :func:`domain` (the inline :data:`TWO_LEVEL_SUFFIXES` subset —
    covers the bulk of real crawl traffic, zero joins).  Pass a
    ``suffixes`` DataFrame — one ``suffix`` string per public
    suffix, e.g. a full publicsuffix.org snapshot including multi-level
    registries ('act.edu.au') and private suffixes ('github.io') — and
    the registered domain becomes *longest matching suffix + one
    label*, PSL semantics, with no code changes at the call sites.

    Scale: the snapshot is a few thousand short strings — ONE broadcast
    per level (longest-first ``MAX_SUFFIX_LEVELS`` left joins against
    the last-k-label candidates), all narrow map-side work: no explode,
    no groupBy, no extra shuffle on the doc side.  Hosts matching no
    snapshot entry fall back to the PSL default rule (last label is the
    suffix => registered = last two labels)."""
    if suffixes is None:
        return docs.withColumn("apex_domain", domain(F.col("url")))
    _, authority, _ = _split(F.col("url"))
    host = F.regexp_replace(F.regexp_replace(authority, r":\d+$", ""),
                            r"^www\.", "")
    out = docs.withColumn("_psl_host", host)
    apex = _last_labels(F.col("_psl_host"), 2)  # default rule fallback
    for k in range(MAX_SUFFIX_LEVELS, 0, -1):
        m = F.broadcast(
            suffixes.select(F.col("suffix").alias(f"_sfx_{k}")).distinct())
        out = out.join(
            m, _last_labels(F.col("_psl_host"), k) == F.col(f"_sfx_{k}"),
            "left")
    # longest-first: a k-label suffix match wins over every shorter one,
    # and the registered domain is the last k+1 labels ('' when the host
    # IS the suffix — no registrable domain, PSL semantics)
    for k in range(1, MAX_SUFFIX_LEVELS + 1):
        apex = F.when(F.col(f"_sfx_{k}").isNotNull(),
                      _last_labels(F.col("_psl_host"), k + 1)).otherwise(apex)
    return (out.withColumn("apex_domain", apex)
            .drop("_psl_host",
                  *[f"_sfx_{k}" for k in range(1, MAX_SUFFIX_LEVELS + 1)]))


def flag_blocked(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """UT1-style category blocklist filter (the Université Toulouse 1
    crawl-curation convention RefinedWeb/FineWeb apply): flag every
    document whose host OR any parent domain appears in a
    ``(domain, category)`` blocklist.  ``www.`` and ports are stripped
    before matching, so an entry 'badsite.com' blocks
    'www.badsite.com' and 'cdn.badsite.com' alike.

    Output: ``(doc_id, url, blocked, categories)`` — ``categories``
    sorted-distinct (one domain may carry several; empty array when
    clean), ``blocked = size(categories) > 0``.

    Scale: candidates are every parent suffix of the host (one short
    row per label, so entries of any depth match) exploded inside the
    scan and joined against the BROADCAST blocklist (UT1's full dumps
    are a few million short domains — comfortably broadcastable; shard
    by category if not), then ONE hash agg on the doc id.  The doc side
    never shuffles its payload beyond (id, url).
    """
    _, authority, _ = _split(F.col("url"))
    host = F.regexp_replace(F.regexp_replace(authority, r":\d+$", ""),
                            r"^www\.", "")
    base = docs.select(F.col("doc_id"), F.col("url")) \
               .withColumn("_bl_host", host)
    labels = F.split(F.col("_bl_host"), r"\.")
    cand = F.array_distinct(F.filter(
        F.transform(F.sequence(F.lit(1), F.size(labels)),
                    lambda k: F.array_join(F.slice(labels, -k, k), ".")),
        lambda c: c != F.lit("")))
    ex = base.select("doc_id", "url", F.explode_outer(cand).alias("_bl_c"))
    bl = F.broadcast(blocklist.select(
        F.lower(F.col("domain")).alias("_bl_c"),
        F.col("category").alias("_bl_cat")).distinct())
    joined = ex.join(bl, "_bl_c", "left")
    cats = F.array_sort(F.array_distinct(F.collect_list("_bl_cat")))
    return (joined.groupBy("doc_id")
            .agg(F.first("url").alias("url"), cats.alias("categories"))
            .select("doc_id", "url",
                    (F.size("categories") > 0).alias("blocked"),
                    "categories"))


def url_duplicates(docs: DataFrame, max_ids: int = 1024) -> DataFrame:
    """URL-level exact dedup after canonicalization: one row per
    normalized url seen >1 times — (url_norm, n_docs, keep_id, dup_ids)
    with keep = minimum id (the crawl-order keep-first policy).
    Shuffle carries only (md5 digest, id): the urls themselves ride as
    one exemplar per group via min().

    ``dup_ids`` lists the group's SMALLEST ``max_ids`` ids — capped via
    a rank window on the same (digest) exchange (WindowExec buffers
    groups in a spillable row array), so a viral URL shared by 10^8
    documents costs disk in the rank pass and truncates VISIBLY in the
    listing instead of materializing an unbounded collect_list in one
    task's heap (the inverted-index postings convention);  ``n_docs``
    and ``keep_id`` stay exact over the whole group."""
    if max_ids < 1:
        raise ValueError(f"max_ids must be >= 1; got {max_ids}")
    from pyspark.sql import Window

    t = docs.select(F.col("doc_id"),
                    normalize_url(F.col("url")).alias("url_norm")) \
            .withColumn("k", F.md5(F.col("url_norm")))
    rn = F.row_number().over(
        Window.partitionBy("k").orderBy(F.col("doc_id").asc()))
    return (t.withColumn("_rn", rn)
            .groupBy("k")
            .agg(F.min("url_norm").alias("url_norm"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("keep_id"),
                 F.array_sort(F.collect_list(
                     F.when(F.col("_rn") <= max_ids, F.col("doc_id"))))
                 .alias("dup_ids"))
            .where(F.col("n_docs") > 1)
            .select("url_norm", "n_docs", "keep_id", "dup_ids"))


def cap_per_domain(docs: DataFrame, max_docs: int) -> DataFrame:
    """Per-domain corpus cap: keep at most ``max_docs`` docs per apex
    domain, lowest ids first (deterministic).  Adds (apex_domain,
    domain_rank) to the surviving rows.  One exchange on the domain
    key; the window never materializes more than a partition's rows and
    survivors are bounded at ``max_docs`` per key by construction."""
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1; got {max_docs}")
    from pyspark.sql import Window

    t = with_apex_domain(docs)
    w = Window.partitionBy("apex_domain").orderBy(F.col("doc_id"))
    return (t.withColumn("domain_rank", F.row_number().over(w))
            .where(F.col("domain_rank") <= max_docs))


def domain_stats(docs: DataFrame,
                 suffixes: DataFrame | None = None) -> DataFrame:
    """Per-apex-domain corpus census — (apex_domain, n_docs, n_urls)
    ordered by (n_docs desc, domain).  n_urls counts distinct
    normalized urls, so n_docs - n_urls is the domain's exact-URL-dup
    mass — the first dashboard a crawl audit reads.  ``suffixes``
    switches the apex derivation to a PSL snapshot
    (:func:`with_apex_domain`)."""
    t = with_apex_domain(docs, suffixes).select(
        F.col("doc_id"), F.col("apex_domain"),
        normalize_url(F.col("url")).alias("u"))
    return (t.groupBy("apex_domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("u").alias("n_urls"))
            .orderBy(F.col("n_docs").desc(), F.col("apex_domain")))
