"""Perceptual dHash (operators/multimodal.py): kernel correctness vs a
Python reference, the planted-near-pair recall contract of the banded
pairs path, and the perceptual properties that justify the operator —
invariance across codecs and under global brightness shifts."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import multimodal as mm


def _ref_grid(gid: int) -> np.ndarray:
    g = np.empty((8, 9), dtype=np.uint8)
    for r in range(8):
        for c in range(9):
            g[r, c] = int(
                hashlib.md5(f"{gid}-{r}-{c}".encode()).hexdigest()[:2], 16)
    return g


def _ref_dhash(grid: np.ndarray) -> int:
    val = 0
    for r in range(8):
        for c in range(8):
            if grid[r, c] < grid[r, c + 1]:
                val |= 1 << (r * 8 + c)
    return val


def _blow_up(grid: np.ndarray, cell: int = 4) -> np.ndarray:
    g = np.repeat(np.repeat(grid, cell, axis=0), cell, axis=1)
    return np.repeat(g[:, :, None], 3, axis=2)


def test_dhash_grid_matches_python_reference():
    for gid in range(20):
        grid = _ref_grid(gid)
        hi, lo = mm.dhash_grid(_blow_up(grid))
        assert (hi << 32) | lo == _ref_dhash(grid), gid


def test_dhash_codec_invariant_bmp_vs_png():
    # the same pixels through two different codecs must hash identically
    grid = _ref_grid(7)
    rgb = _blow_up(grid)
    for payload in (mm.encode_bmp(rgb), mm.encode_png(rgb)):
        w, h, decoded = mm.decode_image(payload)
        assert (w, h) == (36, 32)
        assert mm.dhash_grid(decoded) == mm.dhash_grid(rgb)


def test_dhash_brightness_shift_invariant():
    # a global additive brightness change flips no comparison
    grid = _ref_grid(3)
    shift = min(40, 255 - int(grid.max()))  # stay clip-free
    shifted = (grid.astype(int) + shift).astype(np.uint8)
    assert mm.dhash_grid(_blow_up(grid)) == mm.dhash_grid(_blow_up(shifted))


def test_dhash_one_cell_edit_is_hamming_le_1():
    grid = _ref_grid(11)
    edited = grid.copy()
    edited[0, 0] ^= 0x80
    a = mm.dhash_grid(_blow_up(grid))
    b = mm.dhash_grid(_blow_up(edited))
    ham = bin(((a[0] ^ b[0]) << 32) | (a[1] ^ b[1])).count("1")
    assert ham <= 1


def test_media_dhash_planted_pairs_all_recalled(spark):
    mod = 40
    ids = spark.range(2 * mod).select(F.col("id").alias("doc_id"))
    media = mm.synth_grid_bmp_media(ids, grid_mod=mod)
    pairs = {(r["id_a"], r["id_b"])
             for r in mm.media_dhash_pairs(media).collect()}
    planted = {(f"gbmp-{i:05d}", f"gbmp-{i + mod:05d}") for i in range(mod)}
    # banding may surface extra genuine sub-threshold pairs (md5-byte
    # coincidences), but every planted pair MUST be present
    assert planted <= pairs


def test_media_dhash_too_small_image_is_not_hashed(spark):
    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    tiny = mm.synth_bmp_media(ids)  # 1..3 px wide solid fixtures
    got = mm.media_dhash(tiny).collect()
    assert all(not r["ok"] for r in got)
    assert all(r["sig_hi"] == 0 and r["sig_lo"] == 0 for r in got)
