"""Corpus keyword search — BM25 ranking over the documents table.

Generalizes the reference's elementizer substring search
(database.py:299-319: LIKE '%q%' LIMIT 100) to the ranked retrieval a
training-data pipeline uses for corpus curation (find documents about X,
score topical relevance).  Classic Okapi BM25 (Robertson & Walker;
the Lucene-standard "+1" idf smoothing) — public formulation.

Scale design (100 TB):
  * the query term list is tiny and inlined as literals — per-term tf
    is a narrow ``size(filter(tokens, ...))`` pass inside the scan stage.
  * corpus statistics (N, per-term document frequency, average doc
    length) reduce to ONE aggregate row, broadcast back via a 1-row
    cross join — no shuffle of the corpus itself.
  * final top-k is ``TakeOrderedAndProject``: O(k) memory per task.

Everything is deterministic: doubles rounded to 6 dp, ties broken by
ascending id; a DuckDB oracle replays the exact formula.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

BM25_K1 = 1.2
BM25_B = 0.75


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
    """Top-``k`` documents by BM25 score for the bag-of-words query
    ``terms``.

    Returns (id, <tf_<term> per term>, bm25) ordered by (bm25 desc, id).
    idf uses the Lucene-standard smoothing
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always positive, so
    stopword-heavy queries never produce negative contributions.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    # tokens hoisted to a column layer: dl + one tf per query term all
    # reference them — inline, each reference re-ran the tokenizer
    tok_df = docs.select(F.col("doc_id"),
                         T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")

    # per-doc projection: doc length + per-term tf (one narrow pass)
    proj = tok_df.select(
        F.col("doc_id"),
        F.size(toks).alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )

    # ONE corpus-stats row: N, avgdl, df per term (map-side partial agg)
    stats = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))],
    )

    scored = proj.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5)))
        norm = tf * F.lit(BM25_K1 + 1.0) / (
            tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                   + F.lit(BM25_B) * F.col("dl")
                                   / F.col("avgdl")))
        score = score + idf * norm

    return (scored
            .select(F.col("doc_id"),
                    *[F.col(f"tf_{i}").alias(f"tf_{t}")
                      for i, t in enumerate(terms)],
                    F.round(score, 6).alias("bm25"))
            .filter(F.col("bm25") > 0)
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(k))


def hybrid_rrf_topk(docs: DataFrame, terms: list[str], query_doc: int,
                    k: int = 10, n_each: int = 20) -> DataFrame:
    """Hybrid lexical+semantic retrieval: fuse the BM25 top-``n_each``
    for ``terms`` with the hashed-embedding cosine top-``n_each``
    around ``query_doc`` (16-dim hashed embeddings) by reciprocal-rank
    fusion (Cormack, Clarke & Buettcher, SIGIR 2009): score(d) = sum
    over lists of 1/(60 + rank_list(d)), missing list membership
    contributing 0.

    Returns (id, lex_rank, sem_rank, rrf) — ranks NULL where the doc
    appears in only one list — ordered by (rrf desc, id), the standard
    first-stage retrieval stack of a RAG / retrieval-pretraining
    pipeline, entirely in-engine.

    Scale: both candidate lists are top-``n_each`` products of
    TakeOrderedAndProject scans; the fusion then windows/joins
    ``2*n_each`` rows — driver-scale work regardless of corpus size.
    RRF scores are sums of exact-integer reciprocals in fixed order, so
    any engine reproduces them bit-for-bit.
    """
    from pyspark.sql import Window

    from . import embedding as E
    from . import similarity as S

    # rank windows run on n_each-row frames (post-limit), so the
    # single-partition window is bounded, not a corpus-wide sort
    lex = bm25_topk(docs, terms, k=n_each) \
        .select("doc_id", "bm25")
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))

    embs = E.embed_documents(docs, dim=16)
    sem = S.cosine_topk(embs, query_id=query_doc, k=n_each, id_col="doc_id")
    ws = Window.orderBy(F.col("cosine_sim").desc(), F.col("doc_id").asc())
    sem = sem.select("doc_id", F.row_number().over(ws).alias("sem_rank"))

    contrib = (lambda r: F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col(r)).cast("double"), F.lit(0.0)))
    return (lex.join(sem, "doc_id", "full_outer")
            .select(F.col("doc_id"), "lex_rank", "sem_rank",
                    F.round(contrib("lex_rank") + contrib("sem_rank"), 6)
                    .alias("rrf"))
            .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
            .limit(k))


def inverted_index(docs: DataFrame, min_df: int = 1,
                   max_postings: int = 1000) -> DataFrame:
    """Build the batch side of a retrieval engine: one row per term with
    its document frequency, total term frequency, and a doc-id-sorted
    posting list (the classic MapReduce inverted-index construction,
    Dean & Ghemawat OSDI'04 §2.3, as two hash aggregations).

    Returns (term, df, total_tf, postings_len, postings) where
    ``postings`` is the string ``"id:tf,id:tf,..."`` for the first
    ``max_postings`` postings in ascending id order — a capped,
    deterministic, engine-portable rendering.  ``df``/``total_tf``
    always count ALL postings, so the cap is visible, never silent:
    ``postings_len < df`` tells the reader the list was truncated.

    Scale (100 TB): explode tokens -> hash-agg on (term, id) for tf
    (map-side partial combine collapses repeated terms within a doc
    before the shuffle) -> one sort-window on term that caps each
    posting list BEFORE any list is materialized.  The cap is applied
    via ``row_number`` inside WindowExec, whose per-group buffer spills
    to disk — a stopword term with 10^9 postings sorts and truncates
    without ever holding the list in memory, where a
    ``collect_list``-then-``slice`` formulation would OOM the executor
    (aggregation buffers don't spill mid-group).  The final groupBy
    reuses the window's hash partitioning on term, so it adds no
    exchange; only the <= ``max_postings`` surviving rows enter
    ``collect_list``.  ``min_df`` prunes the hapax tail — at web scale
    most terms occur once and are useless for retrieval.
    """
    from pyspark.sql import Window

    toks = T.tokens(F.col("text"))
    tf = (docs.select(F.col("doc_id"), F.explode(toks).alias("term"))
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    w_sort = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    w_all = Window.partitionBy("term")
    ranked = tf.select(
        "term",
        F.concat_ws(":", F.col("doc_id").cast("string"),
                    F.col("tf").cast("string")).alias("p"),
        F.row_number().over(w_sort).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("df"),
        F.sum("tf").over(w_all).alias("total_tf"),
    )
    return (ranked.filter((F.col("rn") <= max_postings)
                          & (F.col("df") >= min_df))
            .groupBy("term").agg(
                F.max("df").alias("df"),
                F.max("total_tf").alias("total_tf"),
                F.count(F.lit(1)).alias("postings_len"),
                F.array_join(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("rn"), F.col("p")))),
                    lambda s: s["p"]), ",").alias("postings"))
            .select("term", "df", "total_tf", "postings_len", "postings"))
