"""Baseline JPEG codec (kernels/jpeg.py) — round trips, spec-envelope
rejection, and the Spark decode path over the solid-color fixture.

The codec exceeds reference parity (the reference moves JPEG bytes
without decoding — extractor.py:144-192); these tests pin the decode
envelope the multimodal operators now advertise."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.kernels import jpeg
from rca_pdf_extraction_pipeline_spark.operators import multimodal


def test_zigzag_is_spec_permutation():
    zz = jpeg.ZIGZAG
    assert sorted(zz.tolist()) == list(range(64))
    # first/last diagonals per T.81 figure A.6
    assert zz[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert zz[-4:].tolist() == [47, 55, 62, 63]


def test_huffman_encode_decode_inverse():
    enc = jpeg._build_encode(jpeg._AC_BITS, jpeg._AC_VALS)
    dec = jpeg._build_decode(jpeg._AC_BITS, jpeg._AC_VALS)
    # every symbol's code decodes back to itself through the bit reader
    for sym, (code, ln) in enc.items():
        bits = [(code >> i) & 1 for i in range(ln - 1, -1, -1)]
        rd = jpeg._BitReader(b"")
        rd.bits = np.array(bits + [1] * 16, dtype=np.uint8)
        assert rd.read_huff(dec) == sym


def test_solid_roundtrip_exact_all_modes():
    """All-ones quant makes DCT+quantization lossless for constant
    blocks: the decode must equal the closed-form YCbCr round trip of
    the fixture color, for both samplings, any geometry."""
    rng = np.random.RandomState(3)
    for _ in range(12):
        c = tuple(int(v) for v in rng.randint(0, 256, 3))
        w, h = int(rng.randint(1, 34)), int(rng.randint(1, 27))
        img = np.zeros((h, w, 3), np.uint8)
        img[:, :] = c
        exp = jpeg.ycbcr_roundtrip_rgb(c)
        for sub in (True, False):
            out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=sub))
            assert out is not None
            dw, dh, rgb = out
            assert (dw, dh) == (w, h)
            assert np.all(rgb.reshape(-1, 3) == exp), (c, sub)


def test_gradient_roundtrip_bounded_error():
    """Non-constant blocks with q=1: the only loss is coefficient
    rounding (<=0.5 each) plus the two color roundings — pixel error
    stays within a few levels at 4:4:4."""
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack([(xx * 6) % 256, (yy * 10) % 256,
                    ((xx + yy) * 3) % 256], axis=2).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=False))
    assert out is not None
    assert np.abs(out[2].astype(int) - img.astype(int)).max() <= 4


def test_restart_markers_equal_single_segment():
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack([(xx * 6) % 256, (yy * 10) % 256,
                    ((xx + yy) * 3) % 256], axis=2).astype(np.uint8)
    p_rst = jpeg.encode_jpeg(img, restart_interval=1)
    p_one = jpeg.encode_jpeg(img)
    assert b"\xFF\xDD" in p_rst and b"\xFF\xDD" not in p_one
    a, b = jpeg.decode_jpeg(p_rst), jpeg.decode_jpeg(p_one)
    assert a is not None and b is not None
    assert np.array_equal(a[2], b[2])


def test_grayscale_single_component():
    img = np.full((10, 13, 3), 77, np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, grayscale=True))
    assert out is not None
    assert out[:2] == (13, 10) and np.all(out[2] == 77)


def test_k1_quant_lossy_but_close():
    yy, xx = np.mgrid[0:16, 0:16]
    img = np.stack([128 + (xx % 4) * 8, 100 + (yy % 4) * 8,
                    np.full_like(xx, 60)], axis=2).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quant=jpeg.QUANT_LUMA_K1))
    assert out is not None
    assert abs(float(out[2].mean()) - float(img.mean())) < 8.0


def test_rejects_outside_envelope():
    img = np.full((9, 9, 3), 40, np.uint8)
    payload = jpeg.encode_jpeg(img)
    assert jpeg.decode_jpeg(b"") is None
    assert jpeg.decode_jpeg(b"not a jpeg") is None
    assert jpeg.decode_jpeg(payload[: len(payload) // 2]) is None
    # flip SOF0 -> SOF2 (progressive): out of scope, graceful None
    prog = bytearray(payload)
    prog[prog.index(b"\xFF\xC0") + 1] = 0xC2
    assert jpeg.decode_jpeg(bytes(prog)) is None
    # 12-bit precision byte
    deep = bytearray(payload)
    deep[deep.index(b"\xFF\xC0") + 4] = 12
    assert jpeg.decode_jpeg(bytes(deep)) is None
    # sampling factor 4 (beyond the {1,2} envelope)
    samp = bytearray(payload)
    sof_at = samp.index(b"\xFF\xC0")
    samp[sof_at + 11] = 0x41          # first component H=4 V=1
    assert jpeg.decode_jpeg(bytes(samp)) is None


def test_decode_image_dispatches_jpeg():
    img = np.full((4, 6, 3), (10, 200, 30), np.uint8)
    out = multimodal.decode_image(jpeg.encode_jpeg(img))
    assert out is not None
    assert out[:2] == (6, 4)
    assert tuple(out[2][0, 0]) == jpeg.ycbcr_roundtrip_rgb((10, 200, 30))


def test_real_decode_media_jpeg(spark):
    ids = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    dec = multimodal.decode_media(multimodal.synth_jpeg_media(ids)).collect()
    by_ref = {r.media_ref: r for r in dec}
    r7 = by_ref["jpg-00007"]
    assert r7.ok and r7.decoded_width == 7 % 16 + 1 \
        and r7.decoded_height == 7 % 8 + 1
    exp_r = jpeg.ycbcr_roundtrip_rgb((7 % 256, 7 * 7 % 256, 7 * 13 % 256))[0]
    assert r7.features[0] == pytest.approx(exp_r / 255.0, abs=1e-6)
    assert not by_ref["jpg-00010"].ok
    assert by_ref["jpg-00010"].decoded_width == 0


# ---------------------------------------------------------------------------
# property tests (hypothesis)
# ---------------------------------------------------------------------------

import hypothesis.strategies as st  # noqa: E402
from hypothesis import given, settings  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 24), st.integers(1, 18),
       st.booleans())
def test_jpeg_solid_roundtrip_property(seed, w, h, sub):
    """For ANY geometry and color: solid image through q=1 encode/decode
    equals the closed-form YCbCr round trip exactly."""
    rng = np.random.RandomState(seed % (2**31))
    c = tuple(int(v) for v in rng.randint(0, 256, 3))
    img = np.zeros((h, w, 3), np.uint8)
    img[:, :] = c
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=sub))
    assert out is not None and out[:2] == (w, h)
    assert np.all(out[2].reshape(-1, 3) == jpeg.ycbcr_roundtrip_rgb(c))


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 20), st.integers(2, 16))
def test_jpeg_random_image_bounded_error_property(seed, w, h):
    """Arbitrary pixel content, q=1, 4:4:4: the only loss is DCT
    coefficient rounding — per-pixel error stays within a few levels and
    restart markers never change the result."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=False))
    assert out is not None and out[:2] == (w, h)
    assert np.abs(out[2].astype(int) - img.astype(int)).max() <= 4
    rst = jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=False,
                                            restart_interval=1))
    assert np.array_equal(rst[2], out[2])
