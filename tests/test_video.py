"""Real YUV4MPEG2 video path: codec round-trip + malformed handling,
exact integer features, frame sampling into the image pipeline, and
temporally-aligned near-dup pairs (operators/multimodal.py)."""

from __future__ import annotations

import numpy as np
import pytest

from rca_pdf_extraction_pipeline_spark.operators import multimodal as M


def _frames(seed: int = 0, n: int = 5, h: int = 32, w: int = 36):
    return np.random.RandomState(seed).randint(
        0, 256, (n, h, w)).astype(np.uint8)


class TestY4MCodec:
    def test_round_trip_exact_all_colorspaces(self):
        fr = _frames()
        for cs in ("C420jpeg", "C420", "C420mpeg2", "C420paldv",
                   "C422", "C444", "Cmono"):
            v = M.decode_y4m(M.encode_y4m(fr, fps=(25, 1), colorspace=cs))
            assert v is not None, cs
            assert (v["frames"] == fr).all(), cs
            assert (v["width"], v["height"]) == (36, 32)
            assert (v["fps_num"], v["fps_den"]) == (25, 1)
            assert v["colorspace"] == cs

    def test_chroma_neutral_mono_and_420_same_luma(self):
        fr = _frames(1)
        a = M.decode_y4m(M.encode_y4m(fr, colorspace="C420jpeg"))
        b = M.decode_y4m(M.encode_y4m(fr, colorspace="Cmono"))
        assert (a["frames"] == b["frames"]).all()

    def test_spec_quirks_tolerated(self):
        """X extensions skipped, I/A params accepted, colorspace
        defaults to C420jpeg when absent, FRAME parameters tolerated."""
        hdr = b"YUV4MPEG2 W2 H2 F30:1 Ip A1:1 XCOLORRANGE=FULL\n"
        body = b"FRAME Xfoo\n" + bytes(range(4)) + b"\x80\x80"
        v = M.decode_y4m(hdr + body)
        assert v is not None and v["colorspace"] == "C420jpeg"
        assert v["frames"].shape == (1, 2, 2)
        assert (v["frames"][0] == [[0, 1], [2, 3]]).all()

    @pytest.mark.parametrize("payload", [
        None,
        b"",
        b"not a y4m payload",
        b"RIFF....WAVE",
        b"YUV4MPEG2 W36 H32 F30:1",               # no newline
        b"YUV4MPEG2 W36 H32 F30:1 C420\n",         # zero frames
        b"YUV4MPEG2 W35 H32 F30:1 C420\nFRAME\n",  # odd width under 4:2:0
        b"YUV4MPEG2 W0 H32 F30:1\nFRAME\n",        # invalid dims
        b"YUV4MPEG2 W2 H2 F30:0\nFRAME\n" + b"\0" * 6,   # invalid fps
        b"YUV4MPEG2 W2 H2 F30:1 Cweird\nFRAME\n" + b"\0" * 6,
        b"YUV4MPEG2 W2 H2 Qbogus\nFRAME\n" + b"\0" * 6,  # unknown param
        b"YUV4MPEG2 W2 H2 F30:1 Cmono\nFRAME\n\0\0\0",   # truncated frame
        b"YUV4MPEG2 W2 H2 F30:1 Cmono\nBLOB\n\0\0\0\0",  # bad frame magic
    ])
    def test_malformed_rejected(self, payload):
        assert M.decode_y4m(payload) is None

    def test_truncated_round_trip_rejected(self):
        p = M.encode_y4m(_frames(2))
        assert M.decode_y4m(p[:-10]) is None

    def test_encode_guards(self):
        with pytest.raises(ValueError):
            M.encode_y4m(_frames(0, h=31, w=36), colorspace="C420")
        with pytest.raises(ValueError):
            M.encode_y4m(_frames(0), colorspace="Cbogus")


def test_video_features_closed_form(spark):
    """Hand-built 2-frame 2x2 mono clip: luma_sum and motion are exact
    integer folds; garbage payload pins the ok=False zero row."""
    f0 = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    f1 = np.array([[15, 10], [30, 90]], dtype=np.uint8)
    clip = M.encode_y4m(np.stack([f0, f1]), fps=(12, 1),
                        colorspace="Cmono")
    rows = [("clip-a", "doc-a", "video", bytearray(clip), None, None, None),
            ("clip-bad", "doc-b", "video", bytearray(b"junk"),
             None, None, None)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in M.video_features(media).collect()}
    a = got["clip-a"]
    assert a["ok"] and (a["width"], a["height"], a["n_frames"]) == (2, 2, 2)
    assert (a["fps_num"], a["fps_den"]) == (12, 1)
    assert a["luma_sum"] == 100 + 145
    assert a["motion"] == 5 + 10 + 0 + 50
    bad = got["clip-bad"]
    assert not bad["ok"] and bad["luma_sum"] == 0 and bad["n_frames"] == 0


def test_video_frames_feed_image_pipeline(spark):
    """Sampled frames are real image rows: media_dhash, media_resize and
    the real decode_media all consume the frame table verbatim, and the
    frame timestamps follow the fps grid."""
    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    media = M.synth_y4m_media(ids)
    frames = M.video_frames(media, every_n=2)
    rows = frames.collect()
    assert sorted((r["video_ref"], r["frame_idx"]) for r in rows) == [
        (f"y4m-{d:05d}", f) for d in (1, 2) for f in (0, 2, 4)]
    # ts on the 30 fps grid: idx * 1000 * 1 // 30
    assert all(r["duration_ms"] == r["frame_idx"] * 1000 // 30
               for r in rows)
    assert M.media_dhash(frames).filter("ok").count() == 6
    dec = M.decode_media(frames).filter("ok")
    assert dec.count() == 6
    rs = M.media_resize(frames, out_w=9, out_h=8).filter("ok")
    assert rs.count() == 6
    with pytest.raises(ValueError):
        M.video_frames(media, every_n=0)


def test_frame_sample_real_decode_bucket_grid(spark):
    """frame_sample decodes the real fps timeline and keeps
    the first frame of each every_ms bucket: a 6-frame 30 fps clip has
    ts 0,33,66,100,133,166 — every_ms=100 keeps idx 0 and 3 (buckets 0
    and 1); every_ms=50 keeps idx 0,2,3,5; garbage yields no rows."""
    ids = spark.createDataFrame([(1,), (10,)], "doc_id long")
    media = M.synth_y4m_media(ids)
    got = {r["frame_idx"]: r["ts_ms"]
           for r in M.frame_sample(media, every_ms=100).collect()}
    assert got == {0: 0, 3: 100}
    idxs = sorted(r["frame_idx"]
                  for r in M.frame_sample(media, every_ms=50).collect())
    assert idxs == [0, 2, 3, 5]
    with pytest.raises(ValueError):
        M.frame_sample(media, every_ms=0)


def test_video_dup_pairs_planted_recall(spark):
    """Planted near-dups (frame 0 cell (0,0) bit-flipped, frames 1-5
    bit-identical) surface with all 6 frames matched; md5-textured
    distinct clips pair with nothing; the undecodable id yields no
    frame rows at all."""
    ids = spark.createDataFrame([(1,), (2,), (10,), (251,), (252,)],
                                "doc_id long")
    media = M.synth_y4m_media(ids, dup_mod=250)
    assert M.video_frames(media).count() == 4 * 6
    pairs = {(r["id_a"], r["id_b"]): r["n_matched"]
             for r in M.video_dup_pairs(media, min_frames=4).collect()}
    assert pairs == {("y4m-00001", "y4m-00251"): 6,
                     ("y4m-00002", "y4m-00252"): 6}
    # raising min_frames past n_frames rejects everything
    assert M.video_dup_pairs(media, min_frames=7).count() == 0
