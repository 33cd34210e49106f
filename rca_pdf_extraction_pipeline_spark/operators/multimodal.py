"""Multimodal (image/audio/video) column plumbing for the interleaved
corpus: opaque ``binary`` payloads + typed metadata, with decode /
feature-extract / resize / frame-sample stages as Arrow-batched
``mapInArrow`` operators that all run through one batch loop,
:func:`map_payloads`.  Each stage supplies only a per-row function
returning its output rows.

Decode is real.  :func:`decode_media` parses uncompressed 24-bit BMP
payloads (pure-numpy header+pixel parser, :func:`decode_bmp`),
non-interlaced 8-bit PNGs (:func:`decode_png` — stdlib zlib inflate +
numpy unfiltering of all five scanline filters; no codec library
needed), and baseline JPEGs (:mod:`..kernels.jpeg` — pure-numpy
marker walk, canonical Huffman, batched-matmul IDCT, 4:2:0 chroma
upsample), each round-trip-tested against its encoder; remaining
formats (progressive JPEG, compressed video codecs) and NULL, empty or
garbage payloads come back ok=False — the dispatch point is
:func:`decode_image`.  Audio decodes RIFF/WAVE PCM16
(:func:`decode_wav`).  Video has its own path: uncompressed YUV4MPEG2
streams (:func:`decode_y4m` — the mjpegtools/FFmpeg raw-video
interchange format) decode to luma planes for :func:`video_features`,
:func:`video_frames` (real frame sampling that feeds the image
pipeline) and :func:`video_dup_pairs`.

Data model (mirrors the reference's image handling, which exports
binary payloads to files and keeps only ``media_ref`` strings in the
DB — extractor.py:177-184):

    media(media_ref:string, doc_id:string, kind:string,  -- image|audio|video
          payload:binary, width:int, height:int, duration_ms:int)

Scale notes: payloads never pass through pandas — Arrow moves them as
buffers into one Python crossing per batch; the per-payload loop is
ragged-payload dispatch and the pixel/sample math is numpy; a real
deployment stores payloads in object storage and keeps only media_ref
here (exactly the reference's design), making this table narrow at
10^12 rows.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

MEDIA_SCHEMA = (
    "media_ref string, doc_id string, kind string, payload binary, "
    "width int, height int, duration_ms int"
)

FEATURE_DIM = 8

DECODE_SCHEMA = (
    "media_ref string, doc_id string, kind string, ok boolean, "
    "decoded_width int, decoded_height int, n_frames int, "
    f"features array<float>"
)


def map_payloads(df: DataFrame, schema: str,
                 fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """The one batch loop of the media stages.

    Per Arrow batch of ``df``: call ``fn`` with each row's values in
    ``df``'s column order, and emit every tuple it returns as a row of
    ``schema`` (a DDL string; tuple fields in schema order).  The
    per-input stages return exactly one row — ok=False with zeroed or
    NULL outputs when the payload does not decode; the frame stages
    return one row per kept frame, none for an undecodable video.
    Empty batches are skipped, and so is a batch that yields no rows."""
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if len(batch) == 0:
                continue
            rows = [out
                    for row in zip(*(c.to_pylist() for c in batch.columns))
                    for out in fn(*row)]
            if not rows:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type)
                 for col, f in zip(zip(*rows), arrow_schema)],
                schema=arrow_schema)

    return df.mapInArrow(run, schema=schema)


# ---------------------------------------------------------------------------
# real decoders (pure numpy — no codec libraries needed)
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Parse an uncompressed 24-bit BI_RGB Windows BMP: returns
    (width, height, pixels[h, w, 3] as RGB uint8) or None if the payload
    is not such a BMP.  Header layout per the public BMP file format:
    BITMAPFILEHEADER (14 bytes, 'BM' magic, pixel-array offset at 10)
    then BITMAPINFOHEADER (width i32 @18, height i32 @22, bpp u16 @28,
    compression u32 @30 == 0); pixel rows are bottom-up, 4-byte padded,
    BGR order."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        return None
    buf = np.frombuffer(payload, dtype=np.uint8)
    off = int(buf[10:14].view(np.uint32)[0])
    width = int(buf[18:22].view(np.int32)[0])
    height = int(buf[22:26].view(np.int32)[0])
    bpp = int(buf[28:30].view(np.uint16)[0])
    compression = int(buf[30:34].view(np.uint32)[0])
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    flipped = height > 0          # positive height => bottom-up rows
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    need = off + stride * h
    if len(payload) < need:
        return None
    rows = buf[off:need].reshape(h, stride)[:, :width * 3].reshape(h, width, 3)
    rgb = rows[:, :, ::-1]        # BGR -> RGB
    if flipped:
        rgb = rgb[::-1]
    return width, h, rgb


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Parse a non-interlaced 8-bit PNG (color types 0 grayscale, 2 RGB,
    6 RGBA) into (width, height, rgb[h, w, 3] uint8), or None if the
    payload is not such a PNG.  Pure stdlib + numpy: chunk walk per the
    public PNG spec (ISO 15948 — IHDR/IDAT/IEND, 4-byte big-endian
    lengths, CRC trailers skipped on read), ``zlib.decompress`` for the
    DEFLATE stream, and scanline unfiltering for all five filter types
    (None/Sub/Up/Average/Paeth, mod-256 per the spec).  Up is fully
    vectorized; Sub/Average/Paeth recur on the previous reconstructed
    pixel, so they run a per-byte loop — acceptable because real decode
    is a per-image rare path, never per-row-of-corpus.

    Grayscale replicates to RGB; alpha is dropped (features below use
    RGB only).  Interlaced (Adam7), 16-bit, and palette images return
    None — honest scope, same graceful-degrade contract as
    :func:`decode_bmp`."""
    import zlib

    if payload is None or len(payload) < 8 or payload[:8] != PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if len(data) < ln:
            return None
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln          # length + type + data + CRC
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, comp, filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if depth != 8 or comp or filt or interlace or channels is None \
            or w <= 0 or h <= 0:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    arr = np.frombuffer(raw[:h * (stride + 1)],
                        dtype=np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels
    for y in range(h):
        r, f = rows[y], int(ftypes[y])
        if f == 0:
            cur = r.copy()
        elif f == 2:                       # Up — vectorizes
            cur = (r + prev) & 0xFF
        elif f in (1, 3, 4):               # Sub / Average / Paeth
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                cur[x] = (int(r[x]) + pred) & 0xFF
        else:
            return None
        recon[y] = cur
        prev = cur
    px = recon.reshape(h, w, channels)
    if channels == 1:
        rgb = np.repeat(px, 3, axis=2)
    elif channels == 4:
        rgb = px[:, :, :3]
    else:
        rgb = px
    return w, h, np.ascontiguousarray(rgb)


def encode_png(rgb: np.ndarray) -> bytes:
    """Inverse of :func:`decode_png` (fixture/round-trip builder):
    rgb[h, w, 3] uint8 -> 8-bit color-type-2 PNG, filter 0 per
    scanline, one zlib-compressed IDAT, CRC-correct chunks."""
    import zlib

    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (len(data).to_bytes(4, "big") + typ + data
                + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big"))

    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Inverse of :func:`decode_bmp` (fixture/round-trip builder):
    rgb[h, w, 3] uint8 -> uncompressed 24-bit bottom-up BMP bytes."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    pixels = rows.tobytes()
    off = 14 + 40
    header = (b"BM" + (off + len(pixels)).to_bytes(4, "little") + b"\x00" * 4
              + off.to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + h.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(pixels).to_bytes(4, "little")
              + b"\x00" * 16)
    return header + pixels


def decode_image(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Magic-byte dispatch over the built-in codecs: BMP ('BM'), PNG
    (8-byte signature), and baseline JPEG (SOI+marker prefix, decoded
    by the pure-numpy :mod:`..kernels.jpeg`).  Returns (w, h, rgb) or
    None."""
    if payload is None or len(payload) < 8:
        return None
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:3] == b"\xFF\xD8\xFF":
        from ..kernels.jpeg import decode_jpeg
        return decode_jpeg(payload)
    return None


def decode_media(media: DataFrame) -> DataFrame:
    """media -> decoded features table, one Arrow-batched stage.

    BMP, PNG and baseline-JPEG payloads (:func:`decode_image` dispatch)
    are parsed for actual geometry and mean-RGB + contrast features;
    any other payload — NULL, empty, garbage, or a format without a
    built-in codec — comes back ok=False with zero geometry and
    features (graceful, like the reference's per-image try/except —
    extractor.py:177-195).  ``n_frames`` is ``duration_ms // 1000``
    (at least 1) for video rows and 1 otherwise.  The loop is per IMAGE
    (ragged payloads), never per pixel — the pixel math is numpy."""

    def decode(ref, did, kind, payload, duration_ms):
        n_frames = max((duration_ms or 0) // 1000, 1) \
            if kind == "video" else 1
        feats = np.zeros(FEATURE_DIM, dtype=np.float32)
        parsed = decode_image(payload)
        if parsed is None:
            return [(ref, did, kind, False, 0, 0, n_frames, feats)]
        w, h, rgb = parsed
        feats[:3] = rgb.reshape(-1, 3).mean(axis=0) / 255.0
        # contrast = peak-to-peak range: an integer difference of two
        # uint8s over 255.0 — EXACTLY representable, so the synthetic
        # solid-color fixtures have a closed-form cross-engine oracle
        # (np.std's pairwise float summation would not)
        feats[3] = float(int(rgb.max()) - int(rgb.min())) / 255.0
        return [(ref, did, kind, True, w, h, n_frames, feats)]

    return map_payloads(
        media.select("media_ref", "doc_id", "kind", "payload", "duration_ms"),
        DECODE_SCHEMA, decode)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling index: one output row per sampled frame
    (media_ref, doc_id, frame_idx, ts_ms).

    Decodes Y4M payloads and keeps the first frame of each ``every_ms``
    bucket of the actual fps timeline (frame ts = idx * 1000 * fps_den
    // fps_num) — undecodable payloads yield no rows.  For sampled
    frames WITH pixel data (re-encoded into the image pipeline) use
    :func:`video_frames`; this returns the lightweight index only."""
    from pyspark.sql import functions as F

    if every_ms < 1:
        raise ValueError(f"every_ms must be >= 1; got {every_ms}")

    def sample(ref, did, payload):
        v = decode_y4m(payload)
        if v is None:
            return []
        out, last_bucket = [], -1
        for idx in range(len(v["frames"])):
            ts = idx * 1000 * v["fps_den"] // v["fps_num"]
            if ts // every_ms > last_bucket:
                last_bucket = ts // every_ms
                out.append((ref, did, idx, ts))
        return out

    vids = media.filter(F.col("kind") == "video")
    return map_payloads(
        vids.select("media_ref", "doc_id", "payload"),
        "media_ref string, doc_id string, frame_idx int, ts_ms long", sample)


def _synth_solid_media(ids: DataFrame, prefix: str, fmt: str,
                       encode: Callable[[np.ndarray], bytes]) -> DataFrame:
    """Shared body of the solid-color fixtures: doc ``did`` becomes a
    solid ``w x h`` image (w = did%16+1, h = did%8+1, RGB = (did%256,
    did*7%256, did*13%256)) encoded by ``encode`` under media_ref
    ``{prefix}-{did:05d}``; ids divisible by 10 get the undecodable
    payload ``not a {fmt} payload`` to pin the ok=False path.

    Fixture GENERATOR (not a hot path): the per-id encode loop runs once
    to build test media; production payloads arrive already encoded."""
    garbage = f"not a {fmt} payload".encode()

    def gen(did):
        did = int(did)
        if did % 10 == 0:
            payload = garbage
        else:
            rgb = np.empty((did % 8 + 1, did % 16 + 1, 3), dtype=np.uint8)
            rgb[:, :] = (did % 256, did * 7 % 256, did * 13 % 256)
            payload = encode(rgb)
        return [(f"{prefix}-{did:05d}", f"doc-{did}", "image", payload,
                 None, None, None)]

    return map_payloads(ids.select("doc_id"), MEDIA_SCHEMA, gen)


def synth_bmp_media(ids: DataFrame) -> DataFrame:
    """Deterministic BMP fixture table from a (doc_id:long) frame: each
    doc becomes a solid-color 24-bit BMP (:func:`_synth_solid_media`
    geometry and color formulas); ids divisible by 10 get a
    deliberately-undecodable payload."""
    return _synth_solid_media(ids, "bmp", "bmp", encode_bmp)


def synth_png_media(ids: DataFrame) -> DataFrame:
    """PNG twin of :func:`synth_bmp_media`: same geometry/color
    formulas as a color-type-2 PNG, so the two fixtures share one
    closed-form oracle."""
    return _synth_solid_media(ids, "png", "png", encode_png)


def synth_jpeg_media(ids: DataFrame) -> DataFrame:
    """JPEG twin of :func:`synth_bmp_media`: each doc becomes a solid-
    color baseline JPEG (4:2:0, restart interval 1, ALL-ONES quant
    tables so quantization is lossless and the decode expectation stays
    closed-form — the only lossy steps are the two color-conversion
    roundings, reproduced exactly by ``kernels.jpeg.ycbcr_roundtrip_
    rgb`` and its DuckDB SQL twin)."""
    from ..kernels.jpeg import encode_jpeg

    return _synth_solid_media(
        ids, "jpg", "jpeg",
        lambda rgb: encode_jpeg(rgb, subsample=True, restart_interval=1))


def synth_grid_bmp_media(ids: DataFrame, grid_mod: int = 250) -> DataFrame:
    """Textured BMP fixture for PERCEPTUAL hashing (the solid-color
    fixtures are dHash-degenerate): each doc becomes a grayscale 36x32
    BMP built from an 8x9 grid of solid 4x4 blocks, block (r, c)
    brightness = first md5 byte of ``"{doc_id % grid_mod}-{r}-{c}"``.
    Average-pooling the image back to 9x8 recovers the grid EXACTLY
    (equal-size blocks), so the dHash has a closed-form DuckDB twin.
    Docs with ``doc_id >= grid_mod`` reuse the grid of ``doc_id %
    grid_mod`` with the top bit of cell (0, 0) flipped — a
    near-duplicate at Hamming distance <= 1 (cell (0, 0) feeds exactly
    one horizontal comparison), giving the pairs query a known
    planted-pair structure.

    Fixture GENERATOR (not a hot path), like :func:`synth_bmp_media`."""

    def gen(did):
        did = int(did)
        grid = np.empty((8, 9), dtype=np.uint8)
        gid = did % grid_mod
        for r in range(8):
            for c in range(9):
                key = f"{gid}-{r}-{c}".encode()
                grid[r, c] = int(hashlib.md5(key).hexdigest()[:2], 16)
        if did >= grid_mod:
            grid[0, 0] ^= 0x80
        g = np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1)
        rgb = np.repeat(g[:, :, None], 3, axis=2)
        return [(f"gbmp-{did:05d}", f"doc-{did}", "image", encode_bmp(rgb),
                 None, None, None)]

    return map_payloads(ids.select("doc_id"), MEDIA_SCHEMA, gen)


DHASH_SCHEMA = ("media_ref string, doc_id string, ok boolean, "
                "sig_hi long, sig_lo long")


def dhash_grid(rgb: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash of a decoded image: average-pool the
    channel-summed image to a 9x8 grid, set bit ``r*8 + c`` iff
    ``grid[r, c] < grid[r, c+1]`` (strict, like the classic dHash).
    Channel SUM (not mean) keeps the pooling integer-exact for images
    whose dims divide 9x8; other sizes take uneven float64 block means
    (comparisons, not values, are the output — stable either way).
    Returns the signature split as (sig_hi, sig_lo) 32-bit halves, the
    layout :func:`..operators.dedup.simhash_pairs_from_signatures`
    bands on."""
    h, w = rgb.shape[0], rgb.shape[1]
    gray = rgb.astype(np.int64).sum(axis=2)
    rs = [(r * h) // 8 for r in range(9)]
    cs = [(c * w) // 9 for c in range(10)]
    grid = np.empty((8, 9), dtype=np.float64)
    for r in range(8):
        for c in range(9):
            block = gray[rs[r]:rs[r + 1], cs[c]:cs[c + 1]]
            grid[r, c] = block.sum() / block.size
    bits = grid[:, :-1] < grid[:, 1:]
    val = 0
    for r in range(8):
        for c in range(8):
            if bits[r, c]:
                val |= 1 << (r * 8 + c)
    return val >> 32, val & 0xFFFFFFFF


def media_dhash(media: DataFrame) -> DataFrame:
    """Per-image perceptual dHash signatures over REAL decoded pixels
    (any built-in codec: BMP/PNG/baseline JPEG) — the image analogue of
    :func:`..operators.dedup.simhash_signatures`, producing the same
    (id, sig_hi, sig_lo) shape so the pigeonhole Hamming banding is
    shared verbatim.  One Arrow-batched stage; the per-IMAGE loop is
    ragged-payload dispatch, the pixel math is numpy (input_hint
    discipline).  Images smaller than the 9x8 grid come back ok=False
    with a zero signature rather than an undersampled hash."""

    def dhash(ref, did, payload):
        parsed = decode_image(payload)
        if parsed is None or parsed[0] < 9 or parsed[1] < 8:
            return [(ref, did, False, 0, 0)]
        return [(ref, did, True, *dhash_grid(parsed[2]))]

    return map_payloads(media.select("media_ref", "doc_id", "payload"),
                        DHASH_SCHEMA, dhash)


def media_dhash_pairs(media: DataFrame) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash signatures banded by
    the SimHash pigeonhole machinery (Hamming <= 2 needs
    agreement on >= 1 of 4 disjoint 16-bit bands — never all-pairs).
    Catches re-encodes, brightness-preserving recompression, and
    small local edits that the mean-RGB feature pairs
    (:func:`media_near_pairs`) smear away."""
    from . import dedup

    sigs = media_dhash(media).filter("ok") \
        .select("media_ref", "sig_hi", "sig_lo")
    return dedup.simhash_pairs_from_signatures(
        sigs, id_col="media_ref", max_hamming=2)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE encoder: PCM16 mono, little-endian — the audio
    twin of :func:`encode_bmp` (fixture/round-trip side of the codec;
    pure struct packing, no libraries)."""
    import struct

    data = np.asarray(samples).astype("<i2").tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                sample_rate * 2, 2, 16)
    body = b"WAVE" + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, np.ndarray] | None:
    """Pure-numpy RIFF/WAVE PCM16 mono decoder: walks the chunk list
    (unknown chunks are skipped, so files with LIST/fact metadata still
    parse), returns (sample_rate, int16 sample array) or None for
    anything that is not uncompressed 16-bit mono PCM — the per-row
    anomaly convention of every codec here, never an exception."""
    import struct

    if payload is None or len(payload) < 12 or payload[0:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            return None
        if cid == b"fmt " and size >= 16:
            afmt, nch, srate, _brate, _align, bits = \
                struct.unpack_from("<HHIIHH", body, 0)
            if afmt != 1 or nch != 1 or bits != 16:
                return None                 # compressed / stereo / not 16-bit
            rate = srate
        elif cid == b"data":
            if size % 2:
                return None
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)        # RIFF chunks are word-aligned
    if rate is None or samples is None or rate <= 0:
        return None
    return rate, samples


AUDIO_FEATURES_SCHEMA = (
    "media_ref string, ok boolean, sample_rate int, n_samples long, "
    "duration_ms long, energy long, zero_crossings long, peak long")


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip audio features over REAL decoded PCM (the audio twin of
    :func:`decode_media`'s image path): energy = sum of squared samples,
    zero_crossings = count of strict sign changes between adjacent
    samples, peak = max absolute sample, duration from the header rate —
    all exact integer arithmetic, bit-identical across engines.
    Undecodable or non-PCM16-mono payloads come back ok=False with
    zeroed features.  One Arrow-batched narrow stage, no shuffle; the
    per-clip loop is ragged-payload dispatch, the sample math is numpy
    (input_hint discipline)."""

    def features(ref, payload):
        parsed = decode_wav(payload)
        if parsed is None:
            return [(ref, False, 0, 0, 0, 0, 0, 0)]
        rate, s = parsed
        s64 = s.astype(np.int64)
        energy = int((s64 * s64).sum())
        peak = int(np.abs(s64).max()) if len(s) else 0
        zc = int((s64[:-1] * s64[1:] < 0).sum())
        return [(ref, True, rate, len(s), len(s) * 1000 // rate, energy,
                 zc, peak)]

    return map_payloads(media.select("media_ref", "payload"),
                        AUDIO_FEATURES_SCHEMA, features)


AUDIO_FP_WINDOWS = 65      # 64 envelope comparisons -> one 64-bit hash


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """64-bit audio envelope hash over REAL decoded PCM — the audio
    analogue of :func:`media_dhash`: pool each clip's squared samples
    into 65 windows (sample ``n`` -> window ``n*65 // n_samples``, a
    monotone partition both engines replay exactly), set bit ``j`` iff
    ``energy[j] < energy[j+1]`` (strict, like dHash's horizontal
    comparisons).  Robust to uniform gain-style edits that move every
    window together; a local edit flips only the adjacent comparisons,
    so near-duplicate clips land within small Hamming distance and the
    SimHash pigeonhole banding is shared verbatim.  Clips shorter than
    65 samples (or undecodable) come back ok=False with a zero
    signature rather than an undersampled hash."""

    def fingerprint(ref, did, payload):
        parsed = decode_wav(payload)
        if parsed is None or len(parsed[1]) < AUDIO_FP_WINDOWS:
            return [(ref, did, False, 0, 0)]
        s64 = parsed[1].astype(np.int64)
        w = (np.arange(len(s64)) * AUDIO_FP_WINDOWS) // len(s64)
        e = np.zeros(AUDIO_FP_WINDOWS, dtype=np.int64)
        np.add.at(e, w, s64 * s64)
        val = 0
        for j in range(AUDIO_FP_WINDOWS - 1):
            if e[j] < e[j + 1]:
                val |= 1 << j
        return [(ref, did, True, val >> 32, val & 0xFFFFFFFF)]

    return map_payloads(media.select("media_ref", "doc_id", "payload"),
                        DHASH_SCHEMA, fingerprint)


def audio_dup_pairs(media: DataFrame) -> DataFrame:
    """Near-duplicate audio pairs: envelope fingerprints banded by the
    SimHash pigeonhole machinery (same guarantee as
    :func:`media_dhash_pairs` — Hamming <= 2 always shares a
    16-bit band, never all-pairs).  Completes the cross-modal dedup
    family: MinHash/SimHash for text, dHash for images, the envelope
    hash for audio — one banding implementation serving all three."""
    from . import dedup

    sigs = audio_fingerprint(media).filter("ok") \
        .select("media_ref", "sig_hi", "sig_lo")
    return dedup.simhash_pairs_from_signatures(
        sigs, id_col="media_ref", max_hamming=2)


def synth_wav_media(ids: DataFrame, n_samples: int = 64,
                    dup_mod: int | None = None,
                    md5_texture: bool = False) -> DataFrame:
    """Deterministic WAV fixture table from a (doc_id:long) frame: each
    doc becomes an 8 kHz PCM16 mono clip whose sample ``n`` is ``((doc_id*7 +
    n*13) % 256 - 128) * 100`` — pure id arithmetic, so every feature
    has a closed-form SQL twin; ids divisible by 10 get a deliberately-
    undecodable payload to pin the ok=False path (the
    :func:`synth_bmp_media` convention).

    With ``dup_mod`` set, ids >= dup_mod reuse the waveform of
    ``doc_id % dup_mod`` with a +3000 spike on the last four samples —
    a planted near-duplicate whose envelope hash differs in at most the
    two comparisons adjacent to the touched windows (the
    :func:`synth_grid_bmp_media` planted-pair convention).
    ``md5_texture`` draws sample bytes from ``md5(f"{base}-{n}")``
    instead of the id arithmetic — pseudorandom envelopes, so DISTINCT
    base clips land nowhere near each other in Hamming space and the
    planted pairs are the only ones (the arithmetic waveform's shifted
    structure correlates envelopes across ids).

    Fixture GENERATOR (not a hot path), like :func:`synth_bmp_media`."""

    ns = np.arange(n_samples, dtype=np.int64)

    def gen(did):
        did = int(did)
        if did % 10 == 0:
            payload = b"not a wav payload"
        else:
            base = did if dup_mod is None else did % dup_mod
            if md5_texture:
                s = np.array(
                    [int(hashlib.md5(f"{base}-{n}".encode()).hexdigest()[:2],
                         16) for n in range(n_samples)], dtype=np.int64)
                s = (s - 128) * 100
            else:
                s = ((base * 7 + ns * 13) % 256 - 128) * 100
            if dup_mod is not None and did >= dup_mod:
                s[-4:] += 3000
            payload = encode_wav(s.astype(np.int16), 8000)
        return [(f"wav-{did:05d}", f"doc-{did}", "audio", payload,
                 None, None, None)]

    return map_payloads(ids.select("doc_id"), MEDIA_SCHEMA, gen)


RESIZED_SCHEMA = ("media_ref string, doc_id string, ok boolean, "
                  "payload binary")


def media_resize(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of every decodable image to ``out_w x
    out_h``, re-encoded as BMP — the resize stage of the multimodal
    brief (thumbnailing / normalizing geometry before feature
    extraction).  Source pixel of output (y, x) is ``(y*h // out_h,
    x*w // out_w)`` — the floor-index convention, exact integer
    arithmetic, deterministic across engines.  Undecodable payloads
    come back ok=False with a NULL payload (the per-row anomaly
    convention of :func:`decode_media`).

    One Arrow-batched stage, no shuffle; the per-image
    loop is ragged-payload dispatch, the pixel gather is a numpy
    fancy-index (input_hint discipline).  Scale: cost is linear in
    input pixels, output payloads shrink to ``out_w*out_h*3`` bytes —
    run it BEFORE any per-pixel feature stage so downstream scans move
    thumbnails, not originals."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"target geometry must be >= 1x1; got "
                         f"{out_w}x{out_h}")

    xs = np.arange(out_w, dtype=np.int64)
    ys = np.arange(out_h, dtype=np.int64)

    def resize(ref, did, payload):
        parsed = decode_image(payload)
        if parsed is None:
            return [(ref, did, False, None)]
        w, h, rgb = parsed
        res = rgb[(ys * h) // out_h][:, (xs * w) // out_w]
        return [(ref, did, True, encode_bmp(res))]

    return map_payloads(media.select("media_ref", "doc_id", "payload"),
                        RESIZED_SCHEMA, resize)


CHECKSUM_SCHEMA = ("media_ref string, ok boolean, width int, height int, "
                   "checksum long")


def media_pixel_checksum(media: DataFrame) -> DataFrame:
    """Position-weighted pixel checksum of every decodable image:
    ``sum over (y, x) of (y*width + x + 1) * channel0(y, x)`` — a
    cheap content fingerprint that (unlike a plain pixel sum) changes
    under flips, transposes and row-order bugs, so it pins codec and
    resize geometry end-to-end.  Undecodable payloads come back
    ok=False with zero geometry/checksum.  One Arrow-batched narrow
    stage, no shuffle."""

    def checksum(ref, payload):
        parsed = decode_image(payload)
        if parsed is None:
            return [(ref, False, 0, 0, 0)]
        w, h, rgb = parsed
        weights = np.arange(1, w * h + 1, dtype=np.int64)
        ck = int((rgb[:, :, 0].astype(np.int64).ravel() * weights).sum())
        return [(ref, True, w, h, ck)]

    return map_payloads(media.select("media_ref", "payload"),
                        CHECKSUM_SCHEMA, checksum)


def media_stats(media: DataFrame) -> DataFrame:
    """Corpus-level media profile: per kind — count, payload bytes,
    mean declared geometry. Pure built-ins (JVM-side)."""
    from pyspark.sql import functions as F

    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.round(F.avg("width"), 2).alias("avg_width"),
        F.round(F.avg("height"), 2).alias("avg_height"),
    )


def media_near_pairs(media: DataFrame) -> DataFrame:
    """Image near-duplicate pairs — the multimodal analogue of SemDeDup,
    closing the loop between the codec work and the dedup family: decode
    each payload to its feature vector (:func:`decode_media` — mean-RGB
    + contrast from the BMP/PNG/JPEG codecs), then reuse
    ``dedup.embedding_near_pairs`` (sign-LSH blocking + exact cosine
    gate) over the feature column.  A re-encoded / slightly
    re-compressed copy of an image decodes to a near-identical feature
    vector even though its bytes (and so its exact-dedup hash) differ.

    Returns (media_a, media_b, cosine_sim) for pairs in the same 8-bit
    sign-LSH bucket with cosine >= 0.999 (6 dp, refs ordered);
    undecodable payloads (ok=False) and zero-feature images (no color
    signal — cosine is undefined) are excluded.

    Scale: decode is the one Arrow-batched pass the plan already pays
    for feature extraction; the pair stage inherits embedding_near_
    pairs' properties — per-bucket joins, never O(N^2).  At 10^12
    images swap the 8-dim mean-RGB features for real embeddings and raise
    the bucket bits so expected bucket size stays constant."""
    from pyspark.sql import functions as F

    from ..functions import vectors as V
    from .dedup import embedding_near_pairs

    dec = decode_media(media)
    feats = (dec.filter(F.col("ok"))
             .select(F.col("media_ref"),
                     V.as_double(F.col("features")).alias("features"))
             .filter(F.aggregate("features", F.lit(0.0),
                                 lambda a, x: a + F.abs(x)) > 0))
    pairs = embedding_near_pairs(feats, id_col="media_ref",
                                 vec_col="features", threshold=0.999)
    return pairs.select(F.col("id_a").alias("media_a"),
                        F.col("id_b").alias("media_b"),
                        F.col("cosine_sim"))


# --------------------------------------------------------------------------
# Video: real YUV4MPEG2 (Y4M) codec + frame sampling into the image pipeline
# --------------------------------------------------------------------------

Y4M_MAGIC = b"YUV4MPEG2"

#: colorspace -> (chroma plane count, chroma dims as (w_shift, h_shift));
#: every entry is a real mjpegtools/FFmpeg Y4M colorspace tag
_Y4M_CHROMA = {
    "C420jpeg": (2, 1, 1), "C420mpeg2": (2, 1, 1), "C420paldv": (2, 1, 1),
    "C420": (2, 1, 1), "C422": (2, 1, 0), "C444": (2, 0, 0),
    "Cmono": (0, 0, 0),
}


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (30, 1),
               colorspace: str = "C420jpeg") -> bytes:
    """Encode ``(n_frames, h, w)`` uint8 luma planes as a YUV4MPEG2
    stream (the uncompressed video interchange format of mjpegtools /
    FFmpeg: a text stream header ``YUV4MPEG2 W.. H.. F..:.. C..``, then
    per-frame ``FRAME\\n`` + raw planar data).  Chroma planes (for the
    non-mono colorspaces) are written neutral (128), so luma round-trips
    exactly and a C420jpeg and a Cmono encode of the same planes decode
    to identical luma.  Encoder exists to round-trip-test the decoder
    and to build fixtures, same as :func:`encode_bmp` / fixture
    GENERATOR conventions."""
    if colorspace not in _Y4M_CHROMA:
        raise ValueError(f"unsupported colorspace {colorspace}")
    n_chroma, ws, hs = _Y4M_CHROMA[colorspace]
    n, h, w = frames.shape
    if n_chroma and ((w & ((1 << ws) - 1)) or (h & ((1 << hs) - 1))):
        raise ValueError(f"{colorspace} needs dims divisible by chroma "
                         f"subsampling; got {w}x{h}")
    head = (f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 "
            f"{colorspace}\n").encode()
    chroma = np.full((h >> hs) * (w >> ws), 128, dtype=np.uint8).tobytes()
    out = [head]
    for f in frames.astype(np.uint8):
        out.append(b"FRAME\n")
        out.append(f.tobytes())
        out.extend([chroma] * n_chroma)
    return b"".join(out)


def decode_y4m(payload: bytes) -> dict | None:
    """Parse a YUV4MPEG2 stream: validate the magic, read the
    space-separated stream parameters (W/H/F required-or-defaulted,
    I and A accepted, unknown X extensions skipped per spec), then walk
    ``FRAME`` headers (optional frame parameters tolerated up to the
    newline) reading planar data for the declared colorspace.  Returns
    ``{"width", "height", "fps_num", "fps_den", "colorspace",
    "frames"}`` with ``frames`` the ``(n, h, w)`` uint8 LUMA planes
    (chroma is read past but not returned — every downstream feature /
    hash here is luma-based, like dHash).  Malformed payloads — wrong
    magic, missing/invalid dims, odd dims under 4:2:0, an unknown
    colorspace, a truncated frame — return None (the
    :func:`decode_wav` honesty convention: never a best-effort
    partial decode)."""
    if payload is None or not payload.startswith(Y4M_MAGIC):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    try:
        params = payload[len(Y4M_MAGIC):nl].decode("ascii").split()
    except UnicodeDecodeError:
        return None
    w = h = 0
    fn, fd = 30, 1
    colorspace = "C420jpeg"   # the spec's default when C is absent
    for p in params:
        try:
            if p[0] == "W":
                w = int(p[1:])
            elif p[0] == "H":
                h = int(p[1:])
            elif p[0] == "F":
                fn, fd = (int(x) for x in p[1:].split(":"))
            elif p[0] == "C":
                colorspace = p
            elif p[0] in ("I", "A", "X"):
                continue    # interlacing / aspect / extensions: skipped
            else:
                return None
        except (ValueError, IndexError):
            return None
    if w <= 0 or h <= 0 or fn <= 0 or fd <= 0:
        return None
    if colorspace not in _Y4M_CHROMA:
        return None
    n_chroma, ws, hs = _Y4M_CHROMA[colorspace]
    if n_chroma and ((w & ((1 << ws) - 1)) or (h & ((1 << hs) - 1))):
        return None
    luma_sz = w * h
    frame_sz = luma_sz + n_chroma * ((w >> ws) * (h >> hs))
    pos = nl + 1
    frames = []
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            return None
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_sz > len(payload):
            return None     # truncated frame: refuse, don't guess
        start = fnl + 1
        frames.append(np.frombuffer(
            payload[start:start + luma_sz],
            dtype=np.uint8).reshape(h, w))
        pos = start + frame_sz
    if not frames:
        return None
    return {"width": w, "height": h, "fps_num": fn, "fps_den": fd,
            "colorspace": colorspace,
            "frames": np.stack(frames)}


VIDEO_FEATURES_SCHEMA = (
    "media_ref string, doc_id string, ok boolean, width int, height int, "
    "n_frames int, fps_num int, fps_den int, luma_sum long, motion long"
)


def video_features(media: DataFrame) -> DataFrame:
    """Per-video features over REAL decoded Y4M frames, one
    Arrow-batched stage (the :func:`audio_features` convention):
    geometry + frame count + fps from the stream header, ``luma_sum``
    (exact integer sum of every luma sample — the brightness mass) and
    ``motion`` (sum of absolute luma differences between consecutive
    frames — the classic raw-domain motion activity measure; 0 for a
    static or single-frame clip).  Both are exact int64 folds, so a
    DuckDB oracle replays them bit-for-bit.  Undecodable payloads come
    back ok=False with zero features rather than being dropped."""

    def features(ref, did, payload):
        v = decode_y4m(payload)
        if v is None:
            return [(ref, did, False, 0, 0, 0, 0, 0, 0, 0)]
        fr = v["frames"].astype(np.int64)
        motion = int(np.abs(fr[1:] - fr[:-1]).sum())
        return [(ref, did, True, v["width"], v["height"], len(fr),
                 v["fps_num"], v["fps_den"], int(fr.sum()), motion)]

    return map_payloads(media.select("media_ref", "doc_id", "payload"),
                        VIDEO_FEATURES_SCHEMA, features)


VIDEO_FRAMES_SCHEMA = MEDIA_SCHEMA + ", video_ref string, frame_idx int"


def video_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL frame sampling — the multimodal brief's frame-sample stage
    over actual decoded video (supersedes the metadata-grid plan of
    :func:`frame_sample`): decode each Y4M payload, keep every
    ``every_n``-th frame, and emit each kept frame as a grayscale BMP
    image row in the :data:`MEDIA_SCHEMA` shape (+ ``video_ref`` /
    ``frame_idx`` provenance), so sampled frames flow UNCHANGED into
    the existing image pipeline — :func:`media_dhash`,
    :func:`media_resize`, :func:`decode_media` all take this table
    verbatim.  ``duration_ms`` on the frame row carries the frame's
    timestamp (idx * 1000 * fps_den / fps_num).

    Scale: one Arrow stage, rows out = frames kept; undecodable videos
    yield no rows (they are surfaced by :func:`video_features`'s
    ok=False channel, not silently here).  Partitioning: a video's
    frames stay in its input partition — downstream per-frame work
    re-balances on the exploded row count for free."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1; got {every_n}")

    def frames(ref, did, payload):
        v = decode_y4m(payload)
        if v is None:
            return []
        out = []
        for idx in range(0, len(v["frames"]), every_n):
            g = v["frames"][idx]
            rgb = np.repeat(g[:, :, None], 3, axis=2)
            ts = idx * 1000 * v["fps_den"] // v["fps_num"]
            out.append((f"{ref}#f{idx:04d}", did, "image", encode_bmp(rgb),
                        v["width"], v["height"], ts, ref, idx))
        return out

    return map_payloads(media.select("media_ref", "doc_id", "payload"),
                        VIDEO_FRAMES_SCHEMA, frames)


def video_dup_pairs(media: DataFrame, min_frames: int = 2) -> DataFrame:
    """Near-duplicate VIDEO pairs via temporally-aligned frame hashes:
    take every frame (:func:`video_frames`), dHash each through the image
    pipeline (:func:`media_dhash` — frames ARE images here), band the
    frame signatures with the shared SimHash pigeonhole machinery, and
    keep video pairs where >= ``min_frames`` SAME-POSITION frames land
    within Hamming 2 — a re-encode or a single-frame edit still
    matches on the other frames, while coincidental single-frame
    collisions are rejected by the count gate.  Completes the
    cross-modal dedup family: one banding implementation now serves
    text (SimHash), images (dHash), audio (envelope hash) and video
    (frame dHash sets).

    Returns (id_a, id_b, n_matched) ordered refs; never all-pairs —
    candidates come from the 16-bit band join, and the video-level
    aggregation is a partial-agg count on (id_a, id_b)."""
    from pyspark.sql import functions as F

    from . import dedup

    frames = video_frames(media)
    sigs = media_dhash(frames).filter("ok") \
        .select("media_ref", "sig_hi", "sig_lo")
    pairs = dedup.simhash_pairs_from_signatures(
        sigs, id_col="media_ref", max_hamming=2)
    split = F.split(F.col("id_a"), "#f")
    split_b = F.split(F.col("id_b"), "#f")
    aligned = (pairs
               .withColumn("vid_a", split.getItem(0))
               .withColumn("idx_a", split.getItem(1))
               .withColumn("vid_b", split_b.getItem(0))
               .withColumn("idx_b", split_b.getItem(1))
               .filter(F.col("idx_a") == F.col("idx_b")))
    return (aligned.groupBy(F.col("vid_a").alias("id_a"),
                            F.col("vid_b").alias("id_b"))
            .agg(F.count(F.lit(1)).cast("int").alias("n_matched"))
            .filter(F.col("n_matched") >= min_frames))


def synth_y4m_media(ids: DataFrame, dup_mod: int | None = None) -> DataFrame:
    """Deterministic Y4M fixture table from a (doc_id:long) frame: each
    doc becomes a 6-frame 36x32 clip whose
    frame ``f`` is an 8x9 grid of solid 4x4 luma blocks,
    block (r, c) = first md5 byte of ``"{base}-{f}-{r}-{c}"`` (the
    :func:`synth_grid_bmp_media` texture, extended by a frame axis, so
    per-frame dHash AND the exact luma/motion sums have closed-form
    DuckDB twins).  Colorspace alternates C420jpeg / Cmono by id parity
    — both real decode paths are exercised and produce identical luma.
    With ``dup_mod`` set, ids >= dup_mod reuse the frames of ``doc_id %
    dup_mod`` with the top bit of frame 0's cell (0, 0) flipped — a
    planted near-duplicate that differs in at most 1 dHash bit of one
    frame and is bit-identical elsewhere.  Ids divisible by 10 get an
    undecodable payload (the fixture-family convention).

    Fixture GENERATOR (not a hot path), like :func:`synth_bmp_media`."""

    def gen(did):
        did = int(did)
        if did % 10 == 0:
            payload = b"not a y4m payload"
        else:
            base = did if dup_mod is None else did % dup_mod
            frames = np.empty((6, 8, 9), dtype=np.uint8)
            for f in range(6):
                for r in range(8):
                    for c in range(9):
                        key = f"{base}-{f}-{r}-{c}".encode()
                        frames[f, r, c] = int(
                            hashlib.md5(key).hexdigest()[:2], 16)
            if dup_mod is not None and did >= dup_mod:
                frames[0, 0, 0] ^= 0x80
            big = np.repeat(np.repeat(frames, 4, axis=1), 4, axis=2)
            cs = "C420jpeg" if did % 2 == 0 else "Cmono"
            payload = encode_y4m(big, fps=(30, 1), colorspace=cs)
        return [(f"y4m-{did:05d}", f"doc-{did}", "video", payload,
                 None, None, None)]

    return map_payloads(ids.select("doc_id"), MEDIA_SCHEMA, gen)
