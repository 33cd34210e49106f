"""Deterministic cross-engine hashing primitives (dedup family).

All hashes derive from md5 so an ANSI-SQL oracle (DuckDB) reproduces
them bit-for-bit:

    hash32(s)            = int(md5(s)[:8], 16)          -- in [0, 2^32)
    minhash_hex(toks, k) = min over toks of md5(k || ':' || tok)[:8]

``minhash_hex`` keeps the 8-char lowercase-hex *string* min — the
lexicographic min of fixed-width hex equals the numeric min, and both
engines order ASCII identically, so no integer conversion is needed.

Scale: pure column expressions — at 100 TB these run inside
WholeStageCodegen with zero Python/JVM crossings; the md5 per token is
CPU-bound but embarrassingly parallel and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: modulus for rolling fingerprints — small enough that acc*31 + 2^32
#: never overflows int64
FINGERPRINT_MOD = 1_000_000_007


def hash32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 8))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


#: universal-hashing MinHash parameters: sig_s = min over tokens of
#: (a_s * hash32(tok) + b_s) mod MINHASH_MOD. One md5 per token total;
#: the per-seed permutations are integer ops (Broder 1997 / Carter &
#: Wegman universal hashing). a_s*h <= 2^20 * 2^32 < 2^63 — no overflow.
MINHASH_MOD = 1_000_000_007
MINHASH_SEEDS: list[tuple[int, int]] = [
    (131, 7), (137, 101), (139, 211), (149, 307),
    (151, 401), (157, 503), (163, 601), (167, 701),
]


def minhash_int_array(tokens: Column, seeds: list[tuple[int, int]] | None = None) -> Column:
    """All MinHash signature values in ONE fold over the token array:
    the accumulator is the running vector of per-seed minima, so the
    expensive md5 base hash runs exactly once per token regardless of
    signature width.

    DuckDB twin (per seed s, over hv = list of base hashes):
    ``list_aggregate(list_transform(hv, h -> (a_s*h + b_s) % 1000000007), 'min')``
    """
    seeds = seeds or MINHASH_SEEDS
    hashed = F.transform(
        tokens,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    init = F.array(*[F.lit(MINHASH_MOD).cast("long") for _ in seeds])

    def step(acc: Column, h: Column) -> Column:
        return F.array(*[
            F.least(F.element_at(acc, i + 1),
                    (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MOD))
            for i, (a, b) in enumerate(seeds)
        ])

    return F.aggregate(hashed, init, step)


def minhash_band_key_array(tokens: Column, bands: int,
                           seeds: list[tuple[int, int]] | None = None) -> Column:
    """LSH band keys as ONE expression: the signature fold's ``finish``
    lambda concatenates each band's signature values into its key, so a
    consumer (e.g. ``posexplode``) that evaluates the expression once
    pays the md5-per-token fold exactly once.

    This matters because Spark's ``Generate`` (explode) node evaluates
    its generator input without subexpression elimination — building the
    band keys from 8 separately-projected ``sig_i`` columns re-runs the
    fold once per referenced column (measured ~8x slower at sf0.1).

    DuckDB twin: unchanged — per-seed ``list_aggregate`` minima joined
    with '-' per band (the oracle recomputes the mins independently).
    """
    seeds = seeds or MINHASH_SEEDS
    if len(seeds) % bands != 0:
        raise ValueError(f"bands={bands} must divide n_hashes={len(seeds)}")
    rows_per_band = len(seeds) // bands
    hashed = F.transform(
        tokens,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    init = F.array(*[F.lit(MINHASH_MOD).cast("long") for _ in seeds])

    def step(acc: Column, h: Column) -> Column:
        return F.array(*[
            F.least(F.element_at(acc, i + 1),
                    (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MOD))
            for i, (a, b) in enumerate(seeds)
        ])

    def finish(acc: Column) -> Column:
        return F.array(*[
            F.concat_ws("-", *[
                F.element_at(acc, b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ])
            for b in range(bands)
        ])

    return F.aggregate(hashed, init, step, finish)


def rolling_fingerprint(tokens: Column) -> Column:
    """Order-sensitive rolling polynomial hash over a token sequence:
    ``acc = (acc*31 + hash32(tok)) % FINGERPRINT_MOD`` starting at 0.

    The document-fingerprinting kernel of the training-data pipeline —
    order-sensitive (unlike the MinHash/Jaccard set hashes) so
    re-ordered near-duplicates get distinct prints.

    DuckDB twin (list_reduce has no zero, so prepend it):
    ``list_reduce(list_prepend(0, list_transform(toks, t ->
    ('0x'||substr(md5(t),1,8))::BIGINT)), (a, b) -> (a*31 + b) % 1000000007)``
    """
    hashed = F.transform(
        tokens,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(31) + h) % F.lit(FINGERPRINT_MOD),
    )
