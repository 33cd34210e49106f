"""Byte-pair-encoding merge training — the tokenizer-construction stage
of a training-data pipeline, as a Spark iterative job (Sennrich et al.,
ACL 2016 — the public BPE formulation: repeatedly merge the most
frequent adjacent symbol pair over the word-frequency table).

Scale shape: the ONLY corpus-size-proportional stage is the initial
word count (one groupBy with map-side combine).  Every merge round then
runs over the WORD-FREQUENCY table (unique words — orders of magnitude
smaller than the corpus and shrinking in token length as merges apply),
so 100 TB of text trains at the cost of one corpus scan plus n_merges
small-table rounds.  Rounds cut lineage through the house
``_Materializer`` (localCheckpoint by default, durable parquet with
``checkpoint_dir=`` — the CC-loop discipline), keeping plans O(1) deep.

Representation trick (what makes the oracle exact): a word's symbol
sequence is ONE string of wrapped units ``|s1||s2||...||</w>|``.
Applying merge (l, r) is then a literal string replace of ``|l||r|``
with ``|lr|`` — and because ``||`` occurs only between units and
symbols never contain ``|``, a match aligns exactly to an adjacent
(l, r) unit pair, and left-to-right non-overlapping ``replace()`` IS
the greedy-leftmost BPE merge application.  Both Spark and DuckDB
evaluate it with the same literal-replace semantics, so the oracle
replays every round bit-for-bit without list folds (DuckDB's
``list_reduce`` cannot carry a struct accumulator).

Vocabulary scope: words are whitespace tokens restricted to printable
ASCII without ``|`` (``^[!-~]+$`` minus pipes) — the restriction keeps
``.``-regex and string ordering bit-identical across engines (Java
regex walks UTF-16 units, RE2 walks codepoints; ASCII agrees) and the
separator collision impossible.  A production multilingual run would
swap the separator for an out-of-alphabet byte and drop the filter.

Determinism: argmax pair per round tie-breaks (count desc, left asc,
right asc) — total order, engine-identical for ASCII."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _Materializer

#: end-of-word marker (its own symbol, so merges can capture suffixes)
EOW = "</w>"

_WORD_OK = r"^[!-~]+$"


def _word_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq, enc): the word-frequency table with each word
    pre-encoded as wrapped character units plus the EOW unit."""
    words = (docs.select(F.explode(
        F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit("")))
        .alias("word"))
        .filter(F.col("word").rlike(_WORD_OK)
                & ~F.col("word").contains("|")))
    return (words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .withColumn("enc", F.concat(
                F.regexp_replace("word", "(.)", r"|$1|"),
                F.lit(f"|{EOW}|"))))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent-symbol pair frequencies, freq-weighted."""
    units = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), r"\|\|")
    zipped = F.zip_with(
        F.slice(units, 1, F.size(units) - 1),
        F.slice(units, 2, F.size(units) - 1),
        lambda l, r: F.struct(l.alias("l"), r.alias("r")))
    return (vocab.select(F.col("freq"), F.explode(zipped).alias("z"))
            .groupBy(F.col("z.l").alias("l"), F.col("z.r").alias("r"))
            .agg(F.sum("freq").alias("cnt")))


def bpe_train(docs: DataFrame, n_merges: int,
              checkpoint_dir: str | None = None) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table (rank, left, right, pair_count) in learning order — the
    artifact a tokenizer serializes.

    Each round: one pair-count aggregate over the (shrinking) vocab
    table, a 1-row deterministic argmax, and one literal replace — the
    argmax row is materialized (tiny) and broadcast into the replace,
    then the updated vocab is materialized to cut the round's lineage.
    ``n_merges`` here is the handful-to-hundreds an analytics pipeline
    inspects; a 32k-vocab production train would batch rounds and
    append merges to durable storage incrementally (same loop body).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1; got {n_merges}")
    mat = _Materializer(checkpoint_dir)
    vocab = mat(_word_vocab(docs), "bpe_vocab_0")
    bests: list[DataFrame] = []
    for i in range(1, n_merges + 1):
        best = mat(
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1), f"bpe_best_{i}")
        bests.append(best.select(
            F.lit(i).alias("rank"), F.col("l").alias("left"),
            F.col("r").alias("right"), F.col("cnt").alias("pair_count")))
        vocab = mat(
            vocab.crossJoin(F.broadcast(best))
            .withColumn("enc", F.expr(
                "replace(enc, concat('|', l, '||', r, '|'), "
                "concat('|', l, r, '|'))"))
            .drop("l", "r", "cnt"), f"bpe_vocab_{i}")
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.orderBy("rank")


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize documents with a learned merge list: (id, bpe_tokens
    array<string>, n_bpe_tokens).  ``merges`` is the collected
    (left, right) list in rank order — a tiny driver-side artifact
    (like a broadcast dimension); each merge becomes one literal
    replace in a single narrow projection chain, so tokenization
    pipelines inside the scan with zero shuffle.  Words outside the
    trainable alphabet (non-ASCII or containing ``|``) pass through
    as single unknown tokens, flagged by a leading NUL — explicit,
    never silently dropped."""
    enc = F.concat(F.regexp_replace(F.col("_w"), "(.)", r"|$1|"),
                   F.lit(f"|{EOW}|"))
    for left, right in merges:
        if "|" in left or "|" in right:
            raise ValueError(f"merge symbols cannot contain '|': {(left, right)}")
        enc = F.replace(enc, F.lit(f"|{left}||{right}|"),
                        F.lit(f"|{left}{right}|"))
    word_ok = F.col("_w").rlike(_WORD_OK) & ~F.col("_w").contains("|")
    units = F.when(
        word_ok,
        F.split(F.expr("substring(_enc, 2, length(_enc) - 2)"), r"\|\|")) \
        .otherwise(F.array(F.concat(F.lit("\x00"), F.col("_w"))))
    toks = (docs.select(
        F.col("doc_id"),
        F.posexplode(F.filter(F.split(F.col("text"), " "),
                              lambda t: t != F.lit("")))
        .alias("_pos", "_w"))
        .withColumn("_enc", enc)
        .select(F.col("doc_id"), F.col("_pos"), units.alias("_units")))
    # word order restored explicitly from _pos — collect_list order after
    # a shuffle is NOT the explode order
    return (toks.groupBy("doc_id")
            .agg(F.flatten(F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_units"))))
                ["_units"]).alias("bpe_tokens"))
            .withColumn("n_bpe_tokens", F.size("bpe_tokens")))
