"""Training-sequence preparation — chunking and packing.

The last mile of a training-data pipeline: curated documents become
fixed-budget training sequences.

  * ``chunk_documents`` — split each document into token windows of
    size ``chunk_tokens`` advancing by ``stride`` (overlap = chunk -
    stride), the standard sliding-window chunking for long documents.
    Pure per-row array expressions: the token array is sliced inside
    one projection, then one ``posexplode`` — narrow until the explode,
    no shuffle at all.
  * ``pack_documents`` — assign documents to fixed token-budget bins by
    running cumulative sum in a deterministic order (the parallel
    formulation of greedy sequential packing: bin = floor(cumsum /
    budget); documents never split).  Range-partitioned: per-range
    cumsum windows + a tiny per-range offset table — no corpus-wide
    window at any scale.

Both are deterministic (order derives from ids, never partitioning)
and exactly replayable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    stride: int | None = None) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_chunk_tokens) — sliding token
    windows; the final window is the remainder (>= 1 token, shorter
    than ``chunk_tokens``).  ``stride`` defaults to ``chunk_tokens``
    (no overlap).  Empty documents emit no chunks.
    """
    stride = chunk_tokens if stride is None else stride
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"stride must be in [1, chunk_tokens={chunk_tokens}]; got {stride}")
    # tokens hoisted to a column layer: the chunk lambda slices them
    # once per window — inline, every slice re-ran the tokenizer
    # (O(n_windows * n_tokens) per doc; the substring-dedup lesson)
    tok_df = docs.select(F.col("doc_id"),
                         T.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    # window start positions: 0, stride, 2*stride, ... while start < n
    n_windows = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / stride) + 1).cast("int")
    starts = F.when(n_windows > 0,
                    F.transform(F.sequence(F.lit(0), n_windows - 1),
                                lambda w: w * stride)) \
        .otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)))
    ex = tok_df.select(F.col("doc_id"),
                       F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return ex.select(
        F.col("doc_id"), F.col("chunk_idx"), F.col("chunk_text"),
        T.n_tokens(F.col("chunk_text")).alias("n_chunk_tokens"))


def pack_documents(docs: DataFrame) -> DataFrame:
    """(id, n_tokens, bin_id) — deterministic token-budget packing:
    documents in ascending id order fill bins of 512 tokens by
    running cumulative sum (bin = floor((cumsum - n) / 512), i.e.
    the bin the document STARTS in; documents are never split, so a
    document may overhang its bin — the standard cumsum approximation
    of greedy packing, off by at most one document per bin).

    Scale formulation (the ONLY formulation — a global-window variant
    would move the whole corpus to one task): range-repartition on id
    into spark.sql.shuffle.partitions contiguous id ranges, cumsum
    WITHIN each range under a window that always has a partition spec,
    then shift each range by the total tokens of all earlier ranges.
    The offsets come from one tiny per-range-totals aggregate (one row
    per range) whose running
    sum is computed with a triangular self-join — no partition-less
    window anywhere, at any size.  The result is bitwise identical to
    the logical global cumsum for ANY contiguous ordered split, so the
    SQL oracle stays the one-line global formulation.

    The per-range key is ``spark_partition_id()`` AFTER the range
    exchange: range k maps to shuffle partition k, so the key is
    order-contiguous; AQE may only merge ADJACENT shuffle partitions,
    which preserves contiguity and therefore the cumsum decomposition.
    """
    num_ranges = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = docs.select(F.col("doc_id"),
                       T.n_tokens(F.col("text")).alias("n_tokens"))
    ranged = base.repartitionByRange(num_ranges, F.col("doc_id")) \
                 .withColumn("rng", F.spark_partition_id())
    w = Window.partitionBy("rng").orderBy(F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    within = ranged.select(
        F.col("doc_id"), F.col("n_tokens"), F.col("rng"),
        F.sum("n_tokens").over(w).alias("cum_in_range"))
    totals = ranged.groupBy("rng").agg(
        F.sum("n_tokens").alias("rng_tokens"))
    # running offset over the tiny totals table without a global window:
    # triangular self-join (num_ranges^2 comparisons on <=1k rows)
    earlier = totals.select(F.col("rng").alias("erng"),
                            F.col("rng_tokens").alias("etok"))
    # `<=` + subtract-own keeps every branch's range exchange canonically
    # identical so ReuseExchange collapses them into ONE executed shuffle
    # — under the previous `<` left-join the left side pruned to
    # DISTINCT rng and its exchange re-executed with independently
    # sampled boundaries (divergent rng assignment = corrupted offsets;
    # see pack_sequences and the _range_rank pin)
    offsets = (totals.join(earlier, F.col("erng") <= F.col("rng"))
               .groupBy("rng")
               .agg((F.sum("etok") - F.min("rng_tokens")).alias("offset")))
    joined = within.join(F.broadcast(offsets), "rng")
    return joined.select(
        F.col("doc_id"), F.col("n_tokens"),
        F.floor((F.col("offset") + F.col("cum_in_range") - F.col("n_tokens"))
                / F.lit(512)).cast("long").alias("bin_id"))


def pack_sequences(toks: DataFrame, seq_len: int = 2048,
                   eod: str | None = None,
                   num_ranges: int | None = None) -> DataFrame:
    """GPT-style fixed-length sequence packing: concatenate every
    document's token array in ascending id order into ONE logical token
    stream (optionally terminating each document with an ``eod``
    sentinel token) and cut the stream into rows of exactly ``seq_len``
    tokens — documents SPLIT across sequence boundaries, unlike
    :func:`pack_documents` which keeps documents whole.  Output:
    ``(seq_id:long, tokens:array<string>, n_tokens:int, n_docs:int,
    complete:boolean)`` — only the final sequence of the stream may be
    incomplete (``n_tokens < seq_len``).

    Scale shape (the only one that survives 10^12 documents):

      * the global stream offset of each document is the exclusive
        cumulative token sum in id order, computed with the SAME
        range-partitioned decomposition as :func:`pack_documents` —
        but over a SLIM ``(id, n)`` projection only.  Slim on purpose:
        the decomposition's window branch and totals branch each plan
        their own range exchange, and ReuseExchange collapses them
        only when they are canonically IDENTICAL — carrying the token
        arrays through would let column pruning strip them from the
        totals branch, the exchanges would diverge, and the corpus
        would range-shuffle three times with independently sampled
        boundaries (the _range_rank divergent-assignment hazard, now
        with fat rows).  The slim table keeps the exchanges equal (one
        executed + ReusedExchange, pinned) and costs almost nothing to
        shuffle;
      * the offsets join back to the fat token table by id — ONE hash
        exchange of the corpus (broadcast when tiny), fully
        deterministic, no physical-layout invariant on fat data;
      * a document starting at stream offset ``off`` with ``n`` tokens
        touches sequences ``off//L .. (off+n-1)//L``; each (doc, seq)
        contributes ONE row carrying an ``F.slice`` of the token array
        — exploded rows are O(docs + total_tokens/L), never one row
        per token;
      * one hash exchange on ``seq_id`` reassembles each sequence,
        slice order restored from the carried offset (collect_list
        order after a shuffle is NOT the explode order).

    The slice structs are built INSIDE one transform over the touched-
    sequence range (the Generate-no-CSE lesson: the explode input is a
    single array expression, so the token array is sliced once per
    touched sequence, not once per referenced output column).

    DuckDB twin (whitespace-token entry form): global ``SUM() OVER
    (ORDER BY doc_id)`` offset, parallel ``unnest(range(0,n)) /
    unnest(toks)`` token positions, ``GROUP BY (off+i)//L`` with
    ``string_agg(tok, ' ' ORDER BY off+i)``.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1; got {seq_len}")
    spark = toks.sparkSession
    if num_ranges is None:
        num_ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))
    arr = F.col("tokens")
    if eod is not None:
        arr = F.concat(arr, F.array(F.lit(eod)))
    base = (toks.select(F.col("doc_id"), arr.alias("_toks"))
            .withColumn("_n", F.size("_toks").cast("long"))
            .filter(F.col("_n") > 0))
    # slim (id, n) stream-offset decomposition — see docstring for why
    # the token arrays must NOT ride through this exchange
    slim = base.select(F.col("doc_id"), F.col("_n"))
    ranged = slim.repartitionByRange(num_ranges, F.col("doc_id")) \
                 .withColumn("rng", F.spark_partition_id())
    w = Window.partitionBy("rng").orderBy(F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    within = ranged.select(
        F.col("doc_id"), F.col("_n"), F.col("rng"),
        F.sum("_n").over(w).alias("_cum"))
    totals = ranged.groupBy("rng").agg(F.sum("_n").alias("_rt"))
    earlier = totals.select(F.col("rng").alias("_erng"),
                            F.col("_rt").alias("_ert"))
    # triangular self-join with `<=` + subtract-own rather than `<` +
    # left-join: under `<` the left side needs only DISTINCT rng, so
    # column pruning degenerates its exchange child to a zero-column
    # Project — canonically different from the other branches' exchange,
    # ReuseExchange stops firing, and the range shuffle executes once
    # per branch with INDEPENDENTLY sampled boundaries (the divergent-
    # assignment hazard _range_rank's pin guards against).  `<=` keeps
    # _rt referenced on both sides, all exchanges canonically equal.
    offsets = (totals.join(earlier, F.col("_erng") <= F.col("rng"))
               .groupBy("rng")
               .agg((F.sum("_ert") - F.min("_rt")).alias("_roff")))
    L = F.lit(seq_len).cast("long")
    off = (F.col("_roff") + F.col("_cum") - F.col("_n")).cast("long")
    offs = (within.join(F.broadcast(offsets), "rng")
            .select(F.col("doc_id"), off.alias("_off")))
    docs_off = base.select(F.col("doc_id"), F.col("_toks"), F.col("_n")) \
                   .join(offs, "doc_id")
    # one struct per touched sequence, sliced inside the transform —
    # the explode consumes a single array expression (no re-evaluation
    # per downstream column reference)
    first_seq = F.floor(F.col("_off") / L)
    last_seq = F.floor((F.col("_off") + F.col("_n") - 1) / L)
    parts = F.transform(
        F.sequence(first_seq, last_seq),
        lambda s: F.struct(
            s.alias("seq_id"),
            F.greatest(s * L, F.col("_off")).alias("part_off"),
            F.slice(
                F.col("_toks"),
                (F.greatest(s * L, F.col("_off")) - F.col("_off") + 1)
                .cast("int"),
                (F.least((s + 1) * L, F.col("_off") + F.col("_n"))
                 - F.greatest(s * L, F.col("_off"))).cast("int"),
            ).alias("part")))
    ex = docs_off.select(F.col("doc_id"), F.explode(parts).alias("_p")) \
        .select(F.col("doc_id"), F.col("_p.seq_id").alias("seq_id"),
                F.col("_p.part_off").alias("_poff"),
                F.col("_p.part").alias("_part"))
    out = (ex.groupBy("seq_id")
           .agg(F.flatten(F.array_sort(
                    F.collect_list(F.struct(F.col("_poff"), F.col("_part"))))
                ["_part"]).alias("tokens"),
                F.count(F.lit(1)).cast("int").alias("n_docs")))
    return out.select(
        F.col("seq_id"), F.col("tokens"),
        F.size("tokens").alias("n_tokens"), F.col("n_docs"),
        (F.size("tokens") == F.lit(seq_len)).alias("complete"))
