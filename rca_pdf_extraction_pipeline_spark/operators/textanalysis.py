"""Corpus text analytics — token stats, quality scoring, language ID,
document fingerprinting. Pure column expressions (functions/text.py,
functions/hashing.py); generalizes the reference's scalar functions
X1-X3 (core_analysis.py:222, 452, 455-491) to corpus scale.

All operators are narrow (per-row) — at 100 TB they pipeline inside a
single scan stage with full predicate pushdown and column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T


def token_stats(docs: DataFrame) -> DataFrame:
    """(id, n_tokens, n_distinct_tokens, n_chars, avg_token_len,
    distinct_ratio) — the basic length/diversity profile."""
    # tokens hoisted to a column layer: nt/nd/ratios reference it 5x,
    # and Catalyst inlines expression aliases without CSE (CLAUDE.md)
    tok_df = docs.select(F.col("doc_id"), F.col("text"),
                         T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    nt = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    chars = F.length(F.col("text"))
    return tok_df.select(
        F.col("doc_id"),
        nt.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        chars.alias("n_chars_actual"),
        F.round(chars.cast("double") / F.greatest(nt, F.lit(1)), 6).alias("avg_token_len"),
        F.round(nd.cast("double") / F.greatest(nt, F.lit(1)), 6).alias("distinct_ratio"),
    )


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(id, n_bpe_tokens, n_word_tokens, tokens_per_word): token-budget
    accounting under the BPE-ish pre-tokenizer (functions/text.
    BPE_TOKEN_RE) next to the whitespace word count — the
    fertility-style ratio a sequence-packing budget needs when the real
    tokenizer runs out-of-engine.  Narrow per-row expressions."""
    counts = docs.select(
        F.col("doc_id"),
        F.size(T.bpe_tokens(F.col("text"))).alias("n_bpe_tokens"),
        T.n_tokens(F.col("text")).alias("n_word_tokens"))
    return counts.select(
        F.col("doc_id"), "n_bpe_tokens", "n_word_tokens",
        F.round(F.col("n_bpe_tokens").cast("double")
                / F.greatest(F.col("n_word_tokens"), F.lit(1)), 6)
        .alias("tokens_per_word"))


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality profile (CCNet/Gopher-style filters, public
    heuristics): alpha ratio, digit ratio, stopword ratio and a simple
    composite keep-score in [0,1]."""
    c = F.col("text")
    total = F.greatest(F.length(c), F.lit(1)).cast("double")
    alpha_ratio = T.alpha_chars(c).cast("double") / total
    digit_ratio = T.digit_chars(c).cast("double") / total
    stop_ratio = T.stopword_ratio(c)
    score = (F.lit(0.5) * alpha_ratio + F.lit(0.3) * stop_ratio
             + F.lit(0.2) * (F.lit(1.0) - digit_ratio))
    return docs.select(
        F.col("doc_id"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """(id, stopword_ratio, pred_lang) — stopword-ratio language ID."""
    c = F.col("text")
    return docs.select(
        F.col("doc_id"),
        F.round(T.stopword_ratio(c), 6).alias("stopword_ratio"),
        T.predict_lang(c).alias("pred_lang"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition metrics (Rae et al. 2021,
    public filter heuristics), used to drop template/spam pages:

      * ``top_2gram_frac``  — fraction of the document's 2-gram character
        mass held by its single most frequent 2-gram (high => slogan /
        keyword-stuffing repetition).
      * ``dup_5gram_frac``  — fraction of 5-gram character mass in
        5-grams occurring more than once (high => copy-pasted blocks).

    Character mass of a gram = occurrences x gram length; overlapping
    grams double-count characters, which is the standard (documented)
    behavior of these heuristics.  Both metrics are 0.0 for documents
    too short to form a gram.

    Plan: two posexplodes -> groupBy(doc, gram) with map-side partial
    aggregation -> per-doc roll-up -> broadcast-free join on doc_id.
    At 100 TB each gram table is ~n_tokens rows; the heavy exchange
    hashes on (doc_id, gram) where skew is bounded by document length.
    """
    c = F.col("text")

    def gram_mass(k: int, agg_expr):
        per_gram = (docs.select(F.col("doc_id"),
                                F.explode(
                                    F.when(T.n_tokens(c) >= k, T.shingles(c, k))
                                    .otherwise(F.array().cast("array<string>"))
                                ).alias("gram"))
                    .groupBy("doc_id", "gram")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .withColumn("mass", F.col("cnt") * F.length("gram")))
        return per_gram.groupBy("doc_id").agg(agg_expr)

    top2 = gram_mass(2, (F.max("mass") / F.sum("mass")).alias("top2_raw"))
    dup5 = gram_mass(5, (F.sum(F.when(F.col("cnt") >= 2, F.col("mass"))
                               .otherwise(F.lit(0))) / F.sum("mass"))
                     .alias("dup5_raw"))
    return (docs.select(F.col("doc_id"))
            .join(top2, "doc_id", "left")
            .join(dup5, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.round(F.coalesce(F.col("top2_raw"), F.lit(0.0)), 6)
                    .alias("top_2gram_frac"),
                    F.round(F.coalesce(F.col("dup5_raw"), F.lit(0.0)), 6)
                    .alias("dup_5gram_frac")))


#: cross-engine-safe patterns (same semantics under Java regex and RE2):
#: no backreferences, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[A-Za-z0-9._~:/?#@!$&'()*+,;=%-]+"


def pii_stats(docs: DataFrame) -> DataFrame:
    """PII / link census — the redaction pre-pass of a training-data
    pipeline: per document, how many e-mail addresses and URLs occur,
    the distinct e-mail domains (sorted), and the text with e-mails
    masked.  Pure regexp column expressions; at 100 TB this is a narrow
    scan-stage pass (no shuffle, full pushdown).
    """
    c = F.col("text")
    emails = F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)
    urls = F.regexp_extract_all(c, F.lit(URL_RE), 0)
    domains = F.array_sort(F.array_distinct(
        F.transform(emails, lambda e: F.regexp_extract(e, "@(.*)$", 1))))
    return docs.select(
        F.col("doc_id"),
        F.size(emails).alias("n_emails"),
        F.size(urls).alias("n_urls"),
        F.concat_ws(",", domains).alias("email_domains"),
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>").alias("masked_text"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap stand-in for model-based
    perplexity filtering (CCNet-style: documents whose token
    distribution is atypical for the corpus score low).

    Returns (id, n_tokens, mean_logprob) with mean_logprob <= 0; higher
    (closer to 0) = more typical.  Empty documents report 0.0.

    Determinism: each token's log-prob is quantized to an INTEGER
    (round(ln(count/total) * 1e6)) before the per-document sum, so the
    cross-row aggregation is exact bigint math — no float summation-
    order drift between engines; only the final division rounds.

    Scale: one groupBy(token) for corpus frequencies (vocabulary-sized
    output), one 1-row total broadcast, one explode+join shuffled on
    the token, one groupBy(id) roll-up — all partial-agg friendly; the
    frequency side of the join is vocabulary-sized and broadcasts.
    """
    toks = docs.select(F.col("doc_id"),
                       F.explode(T.tokens(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scaled = (freq.crossJoin(F.broadcast(total))
              .select("tok",
                      F.round(F.log(F.col("cnt") / F.col("total"))
                              * F.lit(1_000_000.0), 0).cast("long")
                      .alias("lp")))
    per_doc = (toks.join(scaled, "tok")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("lp").alias("lp_sum")))
    base = docs.select(F.col("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
                    F.round(F.coalesce(F.col("lp_sum"), F.lit(0))
                            / F.lit(1_000_000.0)
                            / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                    .alias("mean_logprob")))


def unigram_freqs(docs: DataFrame) -> DataFrame:
    """``(tok, cnt)`` — the stored unigram-LM artifact: corpus token
    frequencies, fit ONCE on a reference snapshot and persisted (the
    same train-once/serve-forever shape as the drift counts, dedup
    band-key index, and IVF/PQ codebooks).  One partial-agg shuffle;
    output is vocabulary-sized.
    """
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))


def unigram_logprob_stored(docs: DataFrame, freqs: DataFrame) -> DataFrame:
    """Score documents under a STORED unigram LM — the serving form of
    perplexity filtering: :func:`unigram_logprob` refits the corpus's
    own distribution per run, this scores ANY corpus against a
    reference ``freqs`` artifact without touching the reference corpus
    again (CCNet fits on Wikipedia, scores Common Crawl).

    Returns ``(id, n_tokens, oov_tokens, mean_logprob_micro)``.  Known
    tokens score ``round(ln(cnt / total) * 1e6)`` as exact integers
    (the :func:`unigram_logprob` determinism contract); out-of-
    vocabulary tokens score the floor ``round(ln(1 / (total + 1)) *
    1e6)`` — one fixed penalty, applied per-document as ``oov_tokens *
    floor`` so the OOV branch never widens the token join.  The mean
    stays an exact INTEGER in micro-log units (``floor(sum / n)``, the
    curation dashboard's micro-unit-mean convention): a float mean
    rounded to 6 decimals sits on engine-rounding boundaries (measured:
    one sf0.01 document differed in the last decimal between Spark's
    BigDecimal HALF_UP and DuckDB's round), while floor of a
    sub-2^53 quotient is bit-exact everywhere.

    Scale: one explode + one token join (frequency side is vocabulary-
    sized — broadcasts under the threshold), one groupBy(id) roll-up;
    the 1-row total crosses at the DOC level, not per token.
    """
    toks = docs.select(F.col("doc_id"),
                       F.explode(T.tokens(F.col("text"))).alias("tok"))
    total = freqs.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("total"))
    scaled = (freqs.crossJoin(F.broadcast(total))
              .select("tok",
                      F.round(F.log(F.col("cnt") / F.col("total"))
                              * F.lit(1_000_000.0), 0).cast("long")
                      .alias("lp")))
    per_doc = (toks.join(scaled, "tok", "left")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.coalesce(F.col("lp"), F.lit(0))).alias("_lp_known"),
                    F.sum(F.isnull("lp").cast("int")).cast("long")
                     .alias("oov_tokens")))
    lp_oov = F.round(F.log(F.lit(1.0) / (F.col("total") + 1))
                     * F.lit(1_000_000.0), 0).cast("long")
    base = docs.select(F.col("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .crossJoin(F.broadcast(total))
            .select(F.col("doc_id"),
                    F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
                    F.coalesce(F.col("oov_tokens"), F.lit(0))
                     .alias("oov_tokens"),
                    F.floor((F.coalesce(F.col("_lp_known"), F.lit(0))
                             + F.coalesce(F.col("oov_tokens"), F.lit(0))
                             * lp_oov)
                            / F.greatest(F.coalesce(F.col("n_tokens"),
                                                    F.lit(0)), F.lit(1)))
                    .cast("long").alias("mean_logprob_micro")))


def bigram_logprob(docs: DataFrame,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability under the
    corpus's own n-gram statistics — one step up from
    ``unigram_logprob`` toward model-based perplexity filtering:
    position i scores ln(0.5*P(w_i | w_{i-1}) + 0.5*P(w_i)), so
    documents with corpus-typical word ORDER (not just typical word
    choice) score higher.  Word-salad shuffles of typical words, which
    the unigram scorer cannot see, drop here.

    Returns (id, n_bigrams, mean_logprob); docs with < 2 tokens have
    n_bigrams = 0 and score 0.  Same determinism contract as the
    unigram scorer: per-position log-probs quantized to integers
    (round(ln(p) * 1e6)) before the exact bigint per-document sum.

    Scale: the BIGRAM TABLE is computed once and materialized (default
    ``localCheckpoint``; pass ``checkpoint_dir`` for storage-backed
    durability — the dedup ``_Materializer`` contract), because this
    statistic consumes it from five branches (unigram counts x3 via
    prev/cur/total, bigram counts, per-position scoring) and each
    un-materialized branch would re-run tokenization from the scan —
    Generate inlines expression lineage with no CSE, measured 14
    tokenizer passes per run before the barrier.  Downstream shuffles
    carry short strings or bigints, never documents.
    """
    from .dedup import _Materializer

    mat = _Materializer(checkpoint_dir)
    # one tokenize -> one Generate -> (id, prev, cur) bigram rows, with
    # prev NULL on each document's first token (kept so `uni` can count
    # every token, including 1-token docs' only token)
    tok_df = docs.select(F.col("doc_id"),
                         T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    pairs = F.when(F.size(toks) >= 1, F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.struct(
            F.when(i > 1, F.element_at(toks, i - 1)).alias("prev"),
            F.element_at(toks, i).alias("cur")))) \
        .otherwise(F.array())
    pos_all = mat(
        tok_df.select(F.col("doc_id"), F.explode(pairs).alias("bg"))
              .select(F.col("doc_id"), F.col("bg.prev").alias("prev"),
                      F.col("bg.cur").alias("cur")), "bigram_positions")
    pos = pos_all.where(F.col("prev").isNotNull())

    uni = pos_all.groupBy(F.col("cur").alias("tok")) \
                 .agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("total"))
    big = pos.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb"))

    # p = 0.5 * cb/cp + 0.5 * cu/total, evaluated in this exact
    # operation order in BOTH engines (each step is one IEEE rounding)
    scored = (big
              .join(uni.select(F.col("tok").alias("prev"),
                               F.col("cnt").alias("cp")), "prev")
              .join(uni.select(F.col("tok").alias("cur"),
                               F.col("cnt").alias("cu")), "cur")
              .crossJoin(F.broadcast(total))
              .select("prev", "cur",
                      F.round(F.log(
                          F.lit(0.5) * (F.col("cb") / F.col("cp"))
                          + F.lit(0.5) * (F.col("cu") / F.col("total")))
                          * F.lit(1_000_000.0), 0).cast("long").alias("lp")))

    per_doc = (pos.join(scored, ["prev", "cur"])
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("lp").alias("lp_sum")))
    base = docs.select(F.col("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                    F.round(F.coalesce(F.col("lp_sum"), F.lit(0))
                            / F.lit(1_000_000.0)
                            / F.greatest(F.col("n_bigrams"), F.lit(1)), 6)
                    .alias("mean_logprob")))


def fingerprints(docs: DataFrame) -> DataFrame:
    """(id, fingerprint) — order-sensitive rolling token hash
    (functions/hashing.rolling_fingerprint)."""
    return docs.select(
        F.col("doc_id"),
        H.rolling_fingerprint(T.tokens(F.col("text"))).alias("fingerprint"),
    )


#: winnowing packs the 0-based gram index into the low 20 bits of the
#: selection key — a document with more grams would alias positions, so
#: the operator raises loudly instead (chunk upstream), mirroring the
#: SimHash lane cap.
WINNOW_POS_CAP = 1 << 20

#: winnow gram hashes combine per-TOKEN hash32 values arithmetically —
#: h = ((h*8191 + next) & 0xFFFFFFFF) per token — instead of hashing
#: concatenated shingle STRINGS: building 3-gram strings costs ~3x the
#: whole selection cascade (measured 14.3 s of a 19.2 s wall at 48k
#: docs — interpreted element_at + concat allocations per gram), while
#: the integer combination is two zip_with passes over shifted slices
#: of ONE md5-per-token layer.  32-bit range keeps the packed
#: (hash << 20 | pos) selection key inside a long.
WINNOW_HASH_MULT = 8191
WINNOW_HASH_MASK = 0xFFFFFFFF


def winnow_hash_frame(docs: DataFrame) -> DataFrame:
    """``(doc_id, _h: array<long>)`` — word-k-gram hashes (k = 3) for
    winnowing: ONE md5 per token (``hash32``) projected into a column
    layer, then per-gram integer combination by the recurrence above
    over shifted slices of that layer (attribute references are free;
    an inline md5 transform would re-evaluate once per slice).
    Documents with fewer than ``k`` tokens fall back to one whole-doc
    hash = the same recurrence folded over all their token hashes from
    init 0, so the fallback needs no second md5 site (plan pin:
    exactly one md5).

    DuckDB twin (over ``th = list_transform(toks, t ->
    ('0x'||substr(md5(t),1,8))::BIGINT)``): for k=3 ``g_i = (((th[i]
    * 8191 + th[i+1]) & 4294967295) * 8191 + th[i+2]) & 4294967295``;
    short docs ``[list_reduce(list_prepend(0::BIGINT, th), (a, b) ->
    (a * 8191 + b) & 4294967295)]``.
    """
    layer = docs.select(
        F.col("doc_id"),
        F.transform(T.tokens(F.col("text")),
                    lambda t: H.hash32(t)).alias("_th"))
    th = F.col("_th")
    n = F.size(th)
    k = 3

    def mix(a: Column, b: Column) -> Column:
        return (a * F.lit(WINNOW_HASH_MULT) + b) \
            .bitwiseAND(F.lit(WINNOW_HASH_MASK))

    g = F.slice(th, 1, n - (k - 1))
    for j in range(1, k):
        g = F.zip_with(g, F.slice(th, 1 + j, n - (k - 1)), mix)
    short = F.array(F.aggregate(th, F.lit(0).cast("long"), mix))
    return layer.select(F.col("doc_id"),
                        F.when(n >= k, g).otherwise(short).alias("_h"))


def _winnow_pairmin(m: Column, c: int) -> Column:
    """Element-wise min of ``m`` against itself shifted by ``c`` — one
    sparse-table doubling step of the sliding-window minimum.  Guarded
    to an empty array when the input is shorter than the shift (short
    documents fall back to the single-window branch downstream)."""
    ln = F.size(m)
    return F.when(ln > c, F.zip_with(F.slice(m, 1, ln - c),
                                     F.slice(m, c + 1, ln - c),
                                     lambda a, b: F.least(a, b))) \
            .otherwise(F.array().cast("array<long>"))


def winnow_selection_frame(layer: DataFrame, w: int) -> DataFrame:
    """Append the winnowing selection array ``_sel:
    array<struct<pos, gram_hash>>`` (per length-``w`` window the
    minimum gram hash, RIGHTMOST tie, deduplicated) to a frame carrying
    a projected gram-hash array column ``_h``.  Shared by the
    exploded fingerprint query and pair mining
    (``dedup.winnow_overlap_pairs``).

    Form chosen for the interpreted-HOF reality (CLAUDE.md: higher-
    order functions are never whole-stage codegen'd): each gram packs
    ``hash * 2^20 + (2^20 - 1 - index)`` into one long, so a window MIN
    decodes to (min hash, rightmost index attaining it) — then the
    sliding-window minimum is a sparse-table cascade of ceil(log2 w)+1
    full-array ``zip_with(least)`` passes, EACH projected as its own
    column so no level is re-evaluated by its two slice consumers (the
    naive per-window slice/argmax form re-ran interpreted HOFs per
    window and measured ~7x slower at 48k docs).  Documents with more
    than 2^20 grams trip a loud per-row ``raise_error``.
    """
    h = F.col("_h")
    n = F.size(h)
    guarded = F.when(
        n > WINNOW_POS_CAP,
        F.raise_error(F.concat(
            F.lit("winnow_selection: document "),
            F.col("doc_id").cast("string"),
            F.lit(" has "), n.cast("string"),
            F.lit(f" k-grams > position cap {WINNOW_POS_CAP}; "
                  "chunk oversized documents upstream "
                  "(operators/chunking.py) before winnowing")))
        .cast("array<long>"),
    ).otherwise(
        F.transform(h, lambda x, j: F.shiftleft(x, 20)
                    + (F.lit(WINNOW_POS_CAP - 1) - j)))
    cur = layer.withColumn("_wk1", guarded)
    width, name = 1, "_wk1"
    while width * 2 <= w:
        nxt = f"_wk{width * 2}"
        cur = cur.withColumn(nxt, _winnow_pairmin(F.col(name), width))
        name, width = nxt, width * 2
    if width < w:
        # overlap-align the two power-of-two tables to exact width w
        cur = cur.withColumn(f"_wk{w}",
                             _winnow_pairmin(F.col(name), w - width))
        name = f"_wk{w}"
    # NULL hash arrays (NULL text) stay NULL: the first branch is NULL
    # for them, the second only fires on non-null short docs
    wins = F.when(F.size(F.col("_wk1")) >= w, F.col(name)) \
            .when(F.col("_wk1").isNotNull(),
                  F.array(F.array_min(F.col("_wk1"))))
    sel = F.transform(
        F.array_distinct(wins),
        lambda key: F.struct(
            (F.lit(WINNOW_POS_CAP)
             - key.bitwiseAND(WINNOW_POS_CAP - 1)).alias("pos"),
            F.shiftrightunsigned(key, 20).alias("gram_hash")))
    return cur.withColumn("_sel", sel)


def winnow_fingerprints(docs: DataFrame, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD '03 §3 — the MOSS local-fingerprinting scheme): over the
    sequence of word-3-gram hashes, every window of ``w``
    consecutive hashes contributes its minimum — ties broken toward the
    RIGHTMOST occurrence, the paper's rightmost-tie rule (standard
    winnowing, not the robust variant) — and the selected
    ``(position, hash)`` pairs are deduplicated.  Guarantees any shared
    run of ``w + 2`` words between two documents yields at least
    one shared fingerprint, at expected density ``2 / (w + 1)`` — the
    position-aware middle ground between the whole-document rolling
    hash (:func:`fingerprints`) and per-shingle MinHash (which forgets
    positions).  Beyond the reference (its dedup surface is per-page
    exact text, ``core_analysis.py``); standard overlap-detection
    primitive for a training corpus.

    Output: ``(doc_id, pos, gram_hash)`` — ``pos`` is the 1-based index
    of the selected 3-gram.  Scale: fully narrow.  ONE md5 per TOKEN
    projected into a column layer, gram hashes by integer combination
    (:func:`winnow_hash_frame` — shingle STRING construction measured
    3x the whole selection cascade); the sliding-window minimum is the
    packed-key sparse-table cascade of :func:`winnow_selection_frame`
    — ceil(log2 w)+1 full-array passes, never per-window slices.  No
    shuffle; the only Generate is the final explode of the selection
    column.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1; got {w}")
    frame = winnow_selection_frame(winnow_hash_frame(docs), w)
    # explode_outer + IS NOT NULL: the nullable computed array would
    # otherwise get an inferred pre-Generate Filter whose pushdown
    # re-evaluates the synthesis (CLAUDE.md interleaved-explode trap)
    return (frame.select(F.col("doc_id"), F.explode_outer("_sel").alias("_fp"))
            .filter(F.col("_fp").isNotNull())
            .select(F.col("doc_id"),
                    F.col("_fp.pos").alias("pos"),
                    F.col("_fp.gram_hash").alias("gram_hash")))


def vocabulary(docs: DataFrame, top_v: int | None = None,
               min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: (token, tf, df) — total occurrences and
    document frequency per distinct token, the tokenizer-training /
    vocab-construction primitive of a training-data pipeline.

    ``top_v`` keeps the most frequent tokens (ties broken by ascending
    token, so the cut is deterministic); ``min_count`` drops the long
    tail before the sort.

    Scale: one hash shuffle on the token (map-side partial counts; the
    token strings themselves are the only shuffled payload, each once
    per distinct (token, partition)).  ``top_v`` compiles to
    TakeOrderedAndProject — O(top_v) memory per task, no global sort.
    """
    tok = docs.select(F.col("doc_id"),
                      F.explode(T.tokens(F.col("text"))).alias("token"))
    freq = (tok.groupBy("token")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.countDistinct("doc_id").alias("df")))
    if min_count > 1:
        freq = freq.filter(F.col("tf") >= min_count)
    if top_v is not None:
        freq = freq.orderBy(F.col("tf").desc(), F.col("token").asc()) \
                   .limit(top_v)
    return freq


def vocab_coverage(docs: DataFrame, top_v: int) -> DataFrame:
    """One row: (vocab_size, total_tokens, covered_tokens, oov_rate) —
    what fraction of the corpus token mass a top-``top_v`` vocabulary
    covers (the tokenizer-budget / OOV-rate planning query).

    Derived entirely from the frequency table — the corpus is scanned
    once; no second pass joins docs against the vocab."""
    freq = vocabulary(docs)
    totals = freq.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("tf").alias("total_tokens"))
    top = (freq.orderBy(F.col("tf").desc(), F.col("token").asc())
           .limit(top_v)
           .agg(F.sum("tf").alias("covered_tokens")))
    return (totals.crossJoin(top)
            .select("vocab_size", "total_tokens", "covered_tokens",
                    F.round(F.lit(1.0) - F.col("covered_tokens").cast("double")
                            / F.col("total_tokens"), 6).alias("oov_rate")))


def nb_classify(docs: DataFrame,
                train_docs: DataFrame | None = None) -> DataFrame:
    """Multinomial Naive Bayes classification of every document, with
    the model TRAINED on the same corpus's ``lang`` labels — the
    deterministic stand-in for the model-based quality/domain
    classifiers real pipelines run (GPT-3's LR quality filter, Brown
    et al. 2020 appendix A; CCNet's fastText lang-ID): training is
    pure counting, so the whole train+score round trip is exact.

    Laplace-smoothed unigram model.  With V = trained vocabulary size,
    tot_c = class token mass, n_c = class doc count:

        score_c(doc) = ln(n_c / n_docs)
                       + Σ_t ln(cnt_{t,c} + 1)
                       - n_tokens(doc) * ln(tot_c + V)

    Every ln is quantized to an integer (round(ln(x) * 1e6), the house
    log-determinism idiom), so per-document scores are exact bigint
    sums and the argmax is bit-identical in any engine.  Unseen
    (token, class) pairs contribute ln(0 + 1) = 0, so the score join
    only touches OBSERVED class-conditional counts — no dense
    vocabulary x classes table ever materializes.

    Returns (doc_id, actual, predicted, score_micro) — ties broken by
    ascending class name.

    Scale: two hash aggregates over (class, token) and (doc, class),
    one broadcast of the tiny per-class stats, one keyed join of doc
    tokens against the class-conditional count table (vocabulary-sized,
    shuffles on token). Out-of-fold evaluation: pass the training split
    as ``train_docs`` (model counts, vocabulary, and priors come from
    it alone) and the held-out rows as ``docs`` — split first with
    ``sampling.leakage_safe_split`` so near-dups never straddle the
    boundary.  ``train_docs=None`` self-trains on ``docs``."""
    if train_docs is None:
        train_docs = docs
    tr_tok = (train_docs.select(F.col("lang").alias("actual"),
                                F.explode(T.tokens(F.col("text")))
                                .alias("token")))
    tok = (docs.select(F.col("doc_id").alias("doc"),
                       F.col("lang").alias("actual"),
                       F.explode(T.tokens(F.col("text"))).alias("token")))
    # class-conditional token counts over OBSERVED pairs only
    cc = (tr_tok.groupBy(F.col("actual").alias("cls"), "token")
          .agg(F.count(F.lit(1)).alias("cnt"))
          .select("cls", "token",
                  F.expr("cast(round(ln(cast(cnt + 1 as double)) * 1000000)"
                         " as bigint)").alias("lp")))
    vocab = tr_tok.agg(F.countDistinct("token").alias("v"))
    stats = (tr_tok.groupBy(F.col("actual").alias("cls"))
             .agg(F.count(F.lit(1)).alias("tot"))
             .crossJoin(F.broadcast(vocab))
             .crossJoin(F.broadcast(
                 train_docs.agg(F.count(F.lit(1)).alias("n_docs"))))
             .join(train_docs.groupBy(F.col("lang").alias("cls"))
                   .agg(F.count(F.lit(1)).alias("n_c")), "cls")
             .select("cls",
                     F.expr("cast(round(ln(cast(tot + v as double))"
                            " * 1000000) as bigint)").alias("lp_denom"),
                     F.expr("cast(round(ln(cast(n_c as double)"
                            " / cast(n_docs as double)) * 1000000)"
                            " as bigint)").alias("lp_prior")))
    # Σ ln(cnt+1) per (doc, class) over observed pairs; missing pairs
    # add zero, so the inner join is exact
    obs = (tok.join(cc, "token")
           .groupBy("doc", "cls")
           .agg(F.sum("lp").alias("lp_obs")))
    per_doc = (docs.select(F.col("doc_id").alias("doc"),
                           F.col("lang").alias("actual"),
                           T.n_tokens(F.col("text")).cast("long")
                           .alias("n_tok")))
    scored = (per_doc.crossJoin(F.broadcast(stats))
              .join(obs, ["doc", "cls"], "left")
              .select("doc", "actual", "cls", F.expr(
                  "lp_prior + coalesce(lp_obs, 0L) - n_tok * lp_denom")
                  .cast("long").alias("score_micro")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc").orderBy(F.col("score_micro").desc(),
                                          F.col("cls").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("doc").alias("doc_id"), "actual",
                    F.col("cls").alias("predicted"), "score_micro"))


def charset_profile(docs: DataFrame) -> DataFrame:
    """Per-group character-class census — the charset-sanity signal of
    corpus QA (a source whose letter share collapses or whose non-ASCII
    share spikes between drops is mis-decoded, mojibake, or spam):

      (group, n_docs, n_chars, letters, digits, spaces, other_ascii,
       non_ascii, letter_ratio)

    Classes are counted with single-character regex classes
    (``regexp_count`` — JVM-side, engine-exact for ASCII classes);
    ``non_ascii`` is the remainder ``n_chars - ascii classes``, so the
    census is exhaustive by construction.  Narrow column expressions +
    one tiny group aggregate — no corpus-size state."""
    n = F.length(F.col("text"))
    letters = F.regexp_count(F.col("text"), F.lit("[A-Za-z]"))
    digits = F.regexp_count(F.col("text"), F.lit("[0-9]"))
    spaces = F.regexp_count(F.col("text"), F.lit("[ \\t\\n\\r]"))
    other_ascii = F.regexp_count(
        F.col("text"), F.lit("[\\x21-\\x7e]")) - letters - digits
    per_doc = docs.select(
        F.col("source").alias("grp"), n.alias("_n"),
        letters.alias("_l"), digits.alias("_d"), spaces.alias("_s"),
        other_ascii.alias("_o"))
    return (per_doc.groupBy(F.col("grp").alias("source"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_n").alias("n_chars"),
                 F.sum("_l").alias("letters"),
                 F.sum("_d").alias("digits"),
                 F.sum("_s").alias("spaces"),
                 F.sum("_o").alias("other_ascii"),
                 (F.sum("_n") - F.sum("_l") - F.sum("_d") - F.sum("_s")
                  - F.sum("_o")).alias("non_ascii"))
            .withColumn("letter_ratio",
                        F.round(F.col("letters")
                                / F.greatest("n_chars", F.lit(1)), 6)))
