"""Text -> embedding vectors via the hashing trick (feature hashing,
Weinberger et al., ICML 2009) — the missing front half of the
embedding-space operators (similarity search, SemDeDup, sign-LSH
near-dup), making text -> vector -> ANN a single in-engine pipeline
with no external model.

Every token pays exactly ONE md5 (the perf contract shared with the
MinHash fold, functions/hashing.py); coordinate and sign both derive
from that hash with bit ops, and the per-document fold is pure integer
arithmetic. The operator is fully narrow: at 100 TB it runs inside the
scan stage with zero shuffle and zero Python.

Cross-engine: md5-derived hashes + integer signed counts are exact in
DuckDB; the final L2 normalization divides by sqrt of an exact integer,
rounded to 6 dp (same convention as the cosine operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T

#: default embedding width. Power of two so coordinate/sign extraction
#: is bit masking; at real scale 2^8-2^10 with the same plan shape.
DEFAULT_DIM = 16


def _check_dim(dim: int) -> int:
    if dim < 2 or dim & (dim - 1):
        raise ValueError(f"dim must be a power of two >= 2, got {dim}")
    return dim.bit_length() - 1


def hashed_vector(text: Column, dim: int = DEFAULT_DIM,
                  normalize: bool = True) -> Column:
    """Signed-count feature-hashing vector of a text column.

    Token t contributes sign(t) to coordinate bucket(t), where
    ``h = hash32(t)``, ``bucket = h & (dim-1)`` and
    ``sign = 1 - 2*((h >> log2(dim)) & 1)`` — one md5 per token, the
    sign bit independent of the bucket bits.  The unnormalized vector
    is exact integer; ``normalize`` divides by its L2 norm (rounded to
    6 dp), mapping every non-empty document onto the unit sphere so
    dot product == cosine.  All-zero vectors (empty docs or full
    sign cancellation) stay all-zero.

    DuckDB twin (dim=16):
      h      = ('0x'||substr(md5(t),1,8))::BIGINT
      bucket = h & 15          sign = 1 - 2 * ((h >> 4) & 1)
      v_i    = sum of signs with bucket == i   (0 when absent)
      out_i  = round(v_i / sqrt(sum v^2), 6)
    """
    shift = _check_dim(dim)
    hs = F.transform(T.tokens(text), lambda t: H.hash32(t))
    zeros = F.array_repeat(F.lit(0).cast("long"), dim)

    def step(acc: Column, h: Column) -> Column:
        bucket = h.bitwiseAND(F.lit(dim - 1))
        sign = F.lit(1) - F.lit(2) * F.shiftright(h, shift).bitwiseAND(F.lit(1))
        return F.transform(
            acc, lambda v, i: v + F.when(bucket == i, sign.cast("long"))
                                  .otherwise(F.lit(0).cast("long")))

    counts = F.aggregate(hs, zeros, step)
    if not normalize:
        return counts

    def finish(acc: Column) -> Column:
        norm = F.sqrt(F.aggregate(
            acc, F.lit(0).cast("long"), lambda s, v: s + v * v).cast("double"))
        return F.transform(
            acc, lambda v: F.when(norm > 0, F.round(v.cast("double") / norm, 6))
                            .otherwise(F.lit(0.0)))

    return F.aggregate(hs, zeros, step, finish)


def embed_documents(docs: DataFrame, dim: int = DEFAULT_DIM,
                    normalize: bool = True) -> DataFrame:
    """(doc_id, embedding array<double|bigint>): hashing-trick document
    embeddings, ready for ``similarity.cosine_topk`` and
    ``dedup.embedding_near_pairs`` (pass ``id_col="doc_id"``)."""
    return docs.select(
        F.col("doc_id"),
        hashed_vector(F.col("text"), dim, normalize).alias("embedding"))
