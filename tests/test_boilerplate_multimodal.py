"""HTML boilerplate stripping (operators/boilerplate.py) and multimodal
column plumbing (operators/multimodal.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.operators import boilerplate, multimodal

BLOCKS = [
    # doc a: heading, nav (link-dense), long content, short neighbour, footer
    ("a", 0, "h1", "Report on core analysis results overview", 0),
    ("a", 1, "nav", "home about contact products links", 30),
    ("a", 2, "p", "the quick brown fox jumps over the lazy dog repeatedly "
                  "during the long afternoon measurement session", 0),
    ("a", 3, "p", "short closing note", 0),
    ("a", 4, "footer", "copyright 2024 all rights reserved", 12),
    # doc b: everything boilerplate
    ("b", 0, "nav", "one two three four five six seven eight nine ten eleven", 40),
    ("b", 1, "p", "tiny", 0),
]


@pytest.fixture(scope="module")
def blocks_df(spark):
    return spark.createDataFrame(
        BLOCKS, "doc_id string, idx int, tag string, text string, anchor_chars int")


def test_score_blocks_rules(spark, blocks_df):
    scored = {(r["doc_id"], r["idx"]): r
              for r in boilerplate.score_blocks(blocks_df).collect()}
    assert scored[("a", 2)]["is_content"]          # word-dense, no links
    assert not scored[("a", 1)]["is_content"]      # nav + link-dense
    assert scored[("a", 3)]["is_content"]          # short but adjacent to content
    assert not scored[("a", 4)]["is_content"]      # footer tag
    assert not scored[("b", 0)]["is_content"]      # nav
    assert not scored[("b", 1)]["is_content"]      # tiny, no content neighbour


def test_extract_main_text_matches_kernel(spark, blocks_df):
    """Doc a keeps its long block and the short neighbour after it, in
    block order; the all-boilerplate doc b yields no row."""
    got = {r["doc_id"]: (r["main_text"], r["n_blocks"])
           for r in boilerplate.extract_main_text(blocks_df).collect()}
    assert got == {"a": ("the quick brown fox jumps over the lazy dog "
                         "repeatedly during the long afternoon measurement "
                         "session\nshort closing note", 2)}


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("m1", "d1", "image", b"\x89PNGfakebytes", 640, 480, None),
        ("m2", "d1", "video", b"\x00\x00ftypfake", 1280, 720, 3500),
        ("m3", "d2", "audio", b"RIFFfake", None, None, 2000),
        ("m4", "d2", "image", b"", 10, 10, None),       # empty payload
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def decodable_df(spark):
    """A BMP, a PNG and a JPEG of distinct solid colors, an undecodable
    video row whose ``n_frames`` comes from its declared duration, and
    an empty payload."""
    import numpy as np

    from rca_pdf_extraction_pipeline_spark.kernels.jpeg import encode_jpeg

    def solid(rgb, w=6, h=4):
        a = np.empty((h, w, 3), dtype=np.uint8)
        a[:, :] = rgb
        return a

    rows = [
        ("m1", "d1", "image", multimodal.encode_bmp(solid((200, 100, 50))),
         6, 4, None),
        ("m2", "d1", "video", b"\x00\x00ftypfake", 1280, 720, 3500),
        ("m3", "d2", "image", multimodal.encode_png(solid((10, 20, 30))),
         6, 4, None),
        ("m4", "d2", "image", b"", 10, 10, None),       # empty payload
        ("m5", "d3", "image", encode_jpeg(solid((64, 128, 192), 16, 16)),
         16, 16, None),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_decode_media_shapes(spark, decodable_df):
    out = {r["media_ref"]: r
           for r in multimodal.decode_media(decodable_df).collect()}
    assert set(out) == {"m1", "m2", "m3", "m4", "m5"}  # one row per input
    for ref in ("m1", "m3", "m5"):
        assert out[ref]["ok"]
        assert len(out[ref]["features"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in out[ref]["features"])
    assert out["m1"]["features"][:3] == pytest.approx(
        [200 / 255, 100 / 255, 50 / 255], abs=1e-6)
    assert (out["m1"]["decoded_width"], out["m1"]["decoded_height"]) == (6, 4)
    assert out["m2"]["n_frames"] == 3          # 3500ms // 1000
    assert out["m1"]["n_frames"] == 1
    assert not out["m4"]["ok"]                 # empty payload -> decode failure
    assert list(out["m4"]["features"]) == [0.0] * multimodal.FEATURE_DIM


def test_decode_media_deterministic(spark, decodable_df):
    a = multimodal.decode_media(decodable_df).collect()
    b = multimodal.decode_media(decodable_df.repartition(3)).collect()
    assert sorted((r["media_ref"], r["ok"], list(r["features"])) for r in a) \
        == sorted((r["media_ref"], r["ok"], list(r["features"])) for r in b)


#: payloads no codec accepts: NULL, empty, plain garbage, and each
#: codec's magic prefix over a truncated or nonsense body
BAD_PAYLOADS = [
    ("null", None),
    ("empty", b""),
    ("garbage", b"\x00garbage\xff" * 4),
    ("bmp-trunc", b"BM" + b"\x00" * 60),
    ("png-trunc", multimodal.PNG_SIG + b"\x00\x00\x00\x0dIHDR"),
    ("jpeg-trunc", b"\xff\xd8\xff\xe0\x00\x10JFIF"),
    ("wav-trunc", b"RIFF\x04\x00\x00\x00WAVEfmt "),
    ("y4m-trunc", b"YUV4MPEG2 W4 H4 F30:1\nFRAME\n\x00\x00"),
]

#: the stages that answer every input with exactly one row
PER_INPUT_STAGES = {
    "decode_media": multimodal.decode_media,
    "media_dhash": multimodal.media_dhash,
    "media_resize": lambda m: multimodal.media_resize(m, out_w=4, out_h=4),
    "media_pixel_checksum": multimodal.media_pixel_checksum,
    "audio_features": multimodal.audio_features,
    "audio_fingerprint": multimodal.audio_fingerprint,
    "video_features": multimodal.video_features,
}


@pytest.fixture(scope="module")
def bad_media(spark):
    rows = [(ref, "d-bad", "video", payload, None, None, 2000)
            for ref, payload in BAD_PAYLOADS]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


@pytest.mark.parametrize("stage", sorted(PER_INPUT_STAGES))
def test_bad_payload_gives_one_failed_row(bad_media, stage):
    """A payload that does not decode yields exactly one ok=False row
    whose outputs are all zero, NULL or a zero vector — never an
    exception, never a dropped row."""
    rows = PER_INPUT_STAGES[stage](bad_media).collect()
    assert sorted(r.media_ref for r in rows) == \
        sorted(ref for ref, _ in BAD_PAYLOADS)
    for r in rows:
        out = r.asDict()
        assert out.pop("ok") is False, (stage, r.media_ref)
        for c in ("media_ref", "doc_id", "kind", "n_frames"):
            out.pop(c, None)
        for c, v in out.items():
            zero = v is None or (not any(v) if isinstance(v, list)
                                 else v == 0)
            assert zero, (stage, r.media_ref, c, v)


@pytest.mark.parametrize("stage", ["video_frames", "frame_sample"])
def test_bad_payload_gives_no_frames(bad_media, stage):
    assert getattr(multimodal, stage)(bad_media).count() == 0


def test_remove_frequent_lines_semantics(spark):
    """Shared footer banned at min_df, unique bodies kept in order,
    within-doc repeats count once toward df, all-boilerplate docs
    disappear."""
    from rca_pdf_extraction_pipeline_spark.operators import boilerplate as bp

    foot = "footer"
    rows = [
        (1, f"alpha\n{foot}\nbeta"),
        (2, f"{foot}\ngamma"),
        (3, f"delta\n{foot}\n{foot}"),   # repeated footer: df += 1, not 2
        (4, foot),                        # only boilerplate -> absent
        (5, f"epsilon\n{foot}"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_kept)
           for r in bp.remove_frequent_lines(d, min_df=5).collect()}
    assert out == {1: ("alpha\nbeta", 2), 2: ("gamma", 1),
                   3: ("delta", 1), 5: ("epsilon", 1)}
    # min_df above the footer's df (5 docs) -> nothing banned
    out2 = {r.doc_id for r in bp.remove_frequent_lines(d, min_df=6).collect()}
    assert out2 == {1, 2, 3, 4, 5}


def test_remove_frequent_lines_by_site_semantics(spark):
    """Per-site banning: site A's footer (3/3 docs of A) is removed from
    A yet the SAME line survives in site B where it appears once (1/4 =
    25% < 50% ratio and df 1 < min_df); a 50%-of-B line is banned in B
    only once BOTH gates pass; order of surviving lines is original."""
    from rca_pdf_extraction_pipeline_spark.operators import boilerplate as bp

    foot = "(c) acme - all rights reserved"
    half = "SUBSCRIBE"
    rows = [
        ("A", 1, f"alpha\n{foot}"),
        ("A", 2, f"{foot}\nbeta"),
        ("A", 3, f"gamma\n{foot}\n{foot}"),      # within-doc repeat: df 1
        ("B", 4, f"syndicated\n{foot}"),         # survives here (df 1 in B)
        ("B", 5, f"delta\n{half}"),
        ("B", 6, f"epsilon\n{half}"),
        ("B", 7, f"zeta\n{half}"),               # half: 3/4 of B = 75%
        ("B", 8, "eta"),
    ]
    d = spark.createDataFrame(rows, "site string, doc_id long, text string")
    out = {r.doc_id: (r.site, r.clean_text, r.n_kept)
           for r in bp.remove_frequent_lines_by_site(
               d, min_df=3, min_ratio_pct=50).collect()}
    assert out == {
        1: ("A", "alpha", 1), 2: ("A", "beta", 1), 3: ("A", "gamma", 1),
        4: ("B", f"syndicated\n{foot}", 2),
        5: ("B", "delta", 1), 6: ("B", "epsilon", 1), 7: ("B", "zeta", 1),
        8: ("B", "eta", 1)}
    # ratio gate alone blocks: foot is 3/3 of A but min_ratio 101% bans
    # nothing; SUBSCRIBE at min_df=4 fails the df gate despite 75%
    out2 = bp.remove_frequent_lines_by_site(
        d, min_df=3, min_ratio_pct=101).collect()
    assert all("(c) acme" in r.clean_text or r.site == "B"
               for r in out2 if r.doc_id <= 3) and len(out2) == 8
    out3 = {r.doc_id: r.clean_text
            for r in bp.remove_frequent_lines_by_site(
                d, min_df=4, min_ratio_pct=50).collect()}
    assert out3[5] == f"delta\n{half}"          # df 3 < 4: kept
    assert out3[1] == f"alpha\n{foot}"          # df 3 < 4: kept


def test_decode_media_real_path_graceful_on_non_bmp(spark, media_df):
    """Payloads without a built-in codec (these are UTF-8 text bytes
    behind real magic prefixes) come back ok=False with zero geometry
    instead of raising — the reference's per-image try/except
    semantics."""
    dec = multimodal.decode_media(media_df).collect()
    assert dec and all(not r.ok and r.decoded_width == 0 for r in dec)


def test_media_stats(spark, media_df):
    stats = {r["kind"]: r for r in multimodal.media_stats(media_df).collect()}
    assert stats["image"]["n_media"] == 2
    assert stats["image"]["total_bytes"] == len(b"\x89PNGfakebytes")
    assert stats["video"]["avg_width"] == 1280.0


def test_media_near_pairs_recall_on_perturbed_images(spark):
    """Feature-level image dedup catches what byte-level dedup cannot:
    a one-unit color perturbation and a BMP->PNG re-encode of the same
    image produce different payload bytes but near-identical decoded
    features — all three copies pair up above the cosine gate, while a
    genuinely different image pairs with none of them."""
    import numpy as np

    def solid(rgb_tuple, w=6, h=4):
        a = np.empty((h, w, 3), dtype=np.uint8)
        a[:, :] = rgb_tuple
        return a

    rows = [
        ("img-a", "d1", "image", multimodal.encode_bmp(solid((100, 50, 25))),
         None, None, None),
        ("img-b", "d2", "image", multimodal.encode_bmp(solid((101, 50, 25))),
         None, None, None),                      # perturbed near-dup
        ("img-c", "d3", "image", multimodal.encode_png(solid((100, 50, 25))),
         None, None, None),                      # PNG re-encode of img-a
        ("img-z", "d4", "image", multimodal.encode_bmp(solid((25, 200, 100))),
         None, None, None),                      # genuinely different
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    pairs = {(r["media_a"], r["media_b"]): r["cosine_sim"]
             for r in multimodal.media_near_pairs(media).collect()}
    assert set(pairs) == {("img-a", "img-b"), ("img-a", "img-c"),
                          ("img-b", "img-c")}
    assert pairs[("img-a", "img-c")] == 1.0      # identical features
    assert pairs[("img-a", "img-b")] >= 0.999    # perturbation survives


def test_media_resize_pixel_exact_and_dhash_invariant(spark):
    """Downscaling the 36x32 grid fixture to 18x16 must reproduce the
    md5 grid repeated 2x2 EXACTLY (nearest neighbor on dividing dims is
    a pure block subsample), and the perceptual dHash must be invariant
    under that resize (the 9x8 average-pool of the 18x16 thumbnail
    recovers the identical grid) — resize, BMP re-encode and decode all
    pinned end-to-end."""
    import hashlib

    import numpy as np

    ids = spark.createDataFrame([(7,), (42,)], "doc_id long")
    media = multimodal.synth_grid_bmp_media(ids)
    resized = multimodal.media_resize(media, out_w=18, out_h=16)
    rows = {r["media_ref"]: r for r in resized.collect()}
    assert set(rows) == {"gbmp-00007", "gbmp-00042"}
    for did in (7, 42):
        r = rows[f"gbmp-{did:05d}"]
        assert r["ok"]
        w, h, rgb = multimodal.decode_image(bytes(r["payload"]))
        assert (w, h) == (18, 16)
        grid = np.empty((8, 9), dtype=np.uint8)
        for gr in range(8):
            for gc in range(9):
                key = f"{did}-{gr}-{gc}".encode()
                grid[gr, gc] = int(hashlib.md5(key).hexdigest()[:2], 16)
        want = np.repeat(np.repeat(grid, 2, axis=0), 2, axis=1)
        assert np.array_equal(rgb[:, :, 0], want)

    orig_sigs = {r["media_ref"]: (r["sig_hi"], r["sig_lo"])
                 for r in multimodal.media_dhash(media).collect()}
    thumb_sigs = {r["media_ref"]: (r["sig_hi"], r["sig_lo"])
                  for r in multimodal.media_dhash(
                      resized).collect()}
    assert orig_sigs == thumb_sigs


def test_media_resize_garbage_and_guard(spark, media_df):
    """Undecodable payloads come back ok=False with NULL payloads (the
    decode_media anomaly convention), and a degenerate target geometry
    is rejected loudly."""
    out = multimodal.media_resize(media_df, out_w=4, out_h=4).collect()
    assert len(out) == media_df.count()
    bad = [r for r in out if not r["ok"]]
    assert all(r["payload"] is None for r in bad)
    with pytest.raises(ValueError, match="geometry"):
        multimodal.media_resize(media_df, out_w=0, out_h=4)


def test_media_pixel_checksum_orientation_sensitivity(spark):
    """The position-weighted checksum must distinguish an image from
    its transpose (a plain pixel sum cannot) — the property that makes
    it a geometry pin for the codec/resize chain."""
    import numpy as np

    a = np.zeros((2, 3, 3), dtype=np.uint8)
    a[0, 1, 0] = 10                      # one bright pixel off-center
    rows = [("img-a", "d1", "image", multimodal.encode_bmp(a),
             None, None, None),
            ("img-t", "d2", "image",
             multimodal.encode_bmp(a.transpose(1, 0, 2)),
             None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in
           multimodal.media_pixel_checksum(media).collect()}
    assert got["img-a"]["ok"] and got["img-t"]["ok"]
    assert got["img-a"]["checksum"] != got["img-t"]["checksum"]
    # closed form: pixel (y=0, x=1) weight = 0*3 + 1 + 1 = 2
    assert got["img-a"]["checksum"] == 20


def test_wav_codec_roundtrip_and_chunk_walk():
    """Encode->decode is sample-exact; the RIFF walker skips unknown
    chunks (including odd-sized ones, which RIFF pads to word
    boundaries) and refuses stereo / non-PCM / non-16-bit forms with
    None rather than an exception."""
    import struct

    import numpy as np

    s = np.array([0, 100, -200, 32767, -32768, 3], dtype=np.int16)
    payload = multimodal.encode_wav(s, sample_rate=16000)
    rate, back = multimodal.decode_wav(payload)
    assert rate == 16000 and np.array_equal(back, s)

    # inject an odd-sized LIST chunk between fmt and data: parsers that
    # forget word alignment lose the data chunk
    fmt_end = payload.index(b"data")
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    with_junk = payload[:fmt_end] + junk + payload[fmt_end:]
    rate2, back2 = multimodal.decode_wav(with_junk)
    assert rate2 == 16000 and np.array_equal(back2, s)

    # stereo and 8-bit variants: flip the fmt fields
    stereo = bytearray(payload)
    struct.pack_into("<H", stereo, payload.index(b"fmt ") + 10, 2)
    assert multimodal.decode_wav(bytes(stereo)) is None
    eight = bytearray(payload)
    struct.pack_into("<H", eight, payload.index(b"fmt ") + 22, 8)
    assert multimodal.decode_wav(bytes(eight)) is None
    assert multimodal.decode_wav(b"RIFFxxxxNOPE") is None
    assert multimodal.decode_wav(b"short") is None


def test_audio_features_closed_form(spark):
    """Features over a hand-built 4-sample clip: energy, strict-sign
    zero crossings (a zero sample breaks both adjacent crossings), peak
    and floor-divided duration all have one right answer."""
    import numpy as np

    s = np.array([100, -200, 0, 300], dtype=np.int16)
    rows = [("clip-a", "d1", "audio",
             multimodal.encode_wav(s, sample_rate=1000),
             None, None, None),
            ("clip-bad", "d2", "audio", b"junk", None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in
           multimodal.audio_features(media).collect()}
    a = got["clip-a"]
    assert a["ok"] and a["sample_rate"] == 1000 and a["n_samples"] == 4
    assert a["duration_ms"] == 4    # 4 * 1000 // 1000
    assert a["energy"] == 100**2 + 200**2 + 0 + 300**2
    assert a["zero_crossings"] == 1  # only 100->-200; zeros cross nothing
    assert a["peak"] == 300
    bad = got["clip-bad"]
    assert not bad["ok"] and bad["energy"] == 0 and bad["n_samples"] == 0


def test_audio_fingerprint_planted_pairs_and_short_guard(spark):
    """The planted near-dups (base waveform + a 4-sample spike touching
    windows 63/64) must sit within Hamming 2 of their base and surface
    through the banding; distinct md5-textured bases must pair with
    nothing; clips shorter than the 65 windows come back ok=False."""
    ids = spark.createDataFrame([(1,), (2,), (251,), (252,)], "doc_id long")
    media = multimodal.synth_wav_media(ids, n_samples=256, dup_mod=250,
                                       md5_texture=True)
    sigs = {r["media_ref"]: (r["sig_hi"], r["sig_lo"], r["ok"])
            for r in multimodal.audio_fingerprint(media).collect()}
    assert all(v[2] for v in sigs.values())
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in multimodal.audio_dup_pairs(media).collect()}
    assert set(pairs) == {("wav-00001", "wav-00251"),
                          ("wav-00002", "wav-00252")}
    assert all(h <= 2 for h in pairs.values())

    short = multimodal.synth_wav_media(
        spark.createDataFrame([(3,)], "doc_id long"), n_samples=32)
    got = multimodal.audio_fingerprint(short).collect()[0]
    assert not got["ok"] and got["sig_hi"] == 0 and got["sig_lo"] == 0
