"""Baseline JPEG codec in pure numpy + stdlib — closes the last codec
gap in :mod:`..operators.multimodal` (the reference pipeline moves JPEG
bytes without decoding them — extractor.py:144-192 — so this exceeds
reference parity the same way the PNG codec does).

Scope (honest, like the PNG kernel): baseline sequential DCT (SOF0,
and SOF1 extended-sequential — identical decode path), 8-bit samples,
1 or 3 components, any sampling factors in {1, 2} (4:4:4, 4:2:2,
4:2:0), in-stream DQT/DHT tables, restart intervals, byte stuffing.
Progressive (SOF2), arithmetic coding, 12-bit, and >2 sampling factors
return ``None`` — the graceful-degrade contract shared by
``decode_bmp`` / ``decode_png``.

Everything is from the public spec (ITU-T T.81): marker structure
(§B), canonical Huffman decode (§F.2.2, the MINCODE/MAXCODE/VALPTR
construction), EXTEND sign recovery (F.2.2.1), zigzag (§A.3.6,
generated programmatically below), and the IDCT normalization (§A.3.3).
The encoder ships the Annex-K-shaped default tables but always EMBEDS
its tables in DQT/DHT segments, so decode correctness never depends on
table constants matching any external implementation.

Performance shape: the per-image marker walk and Huffman loop are
Python (entropy decode is inherently serial per restart segment), but
all pixel math — dequantize, IDCT (one batched 8x8 basis matmul over
every block), upsample, color convert — is vectorized numpy over the
whole image.  Real decode is a per-image rare path inside an
Arrow-batched ``mapInArrow`` stage, never per-row-of-corpus work
(same cost contract as decode_png's filter loop).

Determinism: all roundings are explicit ``floor(x + 0.5)`` so the
solid-color fixture oracle is closed-form and reproducible in DuckDB
SQL with FLOOR/LEAST/GREATEST (no round-half-to-even ambiguity)."""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# spec constants
# --------------------------------------------------------------------------


def _zigzag() -> np.ndarray:
    """Raster index of the i-th zigzag coefficient (T.81 §A.3.6):
    diagonals d = r + c; odd diagonals walk r upward, even downward."""
    out = []
    for d in range(15):
        rs = range(max(0, d - 7), min(d, 7) + 1)
        for r in (rs if d % 2 == 1 else reversed(list(rs))):
            out.append(r * 8 + (d - r))
    return np.array(out, dtype=np.int64)


ZIGZAG = _zigzag()

# 8x8 DCT-II basis (T.81 §A.3.3 normalization): block = A.T @ coef @ A,
# coef = A @ block @ A.T.  Built once; reused by every batched matmul.
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# Default tables for the encoder (Annex-K shapes).  The all-ones quant
# table is the fixture/default choice: quantization becomes lossless
# (coefficients are already integers after rounding), which gives the
# synthetic solid-color corpus a closed-form decode oracle.
QUANT_ONES = np.ones(64, dtype=np.int64)

# K.1 luminance quant table (zigzag order), for realistic-quality tests
QUANT_LUMA_K1 = np.array([
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99], dtype=np.int64)

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])


class _Invalid(Exception):
    """Internal: malformed stream — surfaces as decode_jpeg() -> None."""


# --------------------------------------------------------------------------
# canonical Huffman (decode per T.81 F.2.2; encode is its inverse)
# --------------------------------------------------------------------------


def _build_decode(bits: list[int], vals: list[int]):
    """(bits[16], symbols) -> (mincode, maxcode, valptr, vals) arrays
    for the length-at-a-time canonical decode."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code, k = 0, 0
    for ln in range(1, 17):
        if bits[ln - 1]:
            valptr[ln] = k
            mincode[ln] = code
            code += bits[ln - 1]
            k += bits[ln - 1]
            maxcode[ln] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, list(vals)


def _build_encode(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) map, canonical order."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """Bit cursor over one destuffed entropy segment (numpy unpack once,
    then integer indexing)."""

    def __init__(self, seg: bytes):
        self.bits = np.unpackbits(np.frombuffer(seg, dtype=np.uint8))
        self.pos = 0

    def read_huff(self, table) -> int:
        mincode, maxcode, valptr, vals = table
        bits, pos = self.bits, self.pos
        code = 0
        for ln in range(1, 17):
            if pos >= len(bits):
                raise _Invalid("bitstream exhausted")
            code = (code << 1) | int(bits[pos])
            pos += 1
            if maxcode[ln] >= 0 and code <= maxcode[ln]:
                self.pos = pos
                return vals[valptr[ln] + code - mincode[ln]]
        raise _Invalid("invalid Huffman code")

    def receive_extend(self, s: int) -> int:
        """RECEIVE + EXTEND (F.2.2.1): s magnitude bits -> signed value."""
        if s == 0:
            return 0
        if self.pos + s > len(self.bits):
            raise _Invalid("bitstream exhausted")
        v = 0
        for b in self.bits[self.pos:self.pos + s]:
            v = (v << 1) | int(b)
        self.pos += s
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        return v


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def _split_scan(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Extract the entropy-coded bytes after SOS: destuff 0xFF00 and cut
    a new segment at every restart marker; stop at any other marker."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        m = data[pos + 1]
        if m == 0x00:                      # stuffed literal 0xFF
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:            # RSTn — segment boundary
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:                              # real marker — scan over
            break
    segs.append(bytes(cur))
    return segs, pos


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Parse a baseline JPEG into (width, height, rgb[h, w, 3] uint8),
    or None for anything outside the supported envelope (progressive,
    12-bit, arithmetic, sampling factors > 2, truncated streams)."""
    try:
        return _decode_jpeg(payload)
    except (_Invalid, IndexError, ValueError):
        return None


def _decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    if payload is None or len(payload) < 4 or payload[0:2] != b"\xFF\xD8":
        return None
    data = bytes(payload)
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}
    frame = None          # (h, w, comps) comps = [(id, hs, vs, tq)]
    dri = 0
    scan = None           # (comp order [(ci, dc_tbl, ac_tbl)], segs)

    while pos < len(data):
        if data[pos] != 0xFF:
            raise _Invalid("expected marker")
        while pos < len(data) and data[pos] == 0xFF:
            pos += 1                       # fill bytes are legal
        if pos >= len(data):
            break
        marker = data[pos]
        pos += 1
        if marker == 0xD9:                 # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue                       # standalone
        if pos + 2 > len(data):
            raise _Invalid("truncated segment")
        ln = (data[pos] << 8) | data[pos + 1]
        seg = data[pos + 2:pos + ln]
        if ln < 2 or len(seg) != ln - 2:
            raise _Invalid("truncated segment")
        pos += ln

        if marker == 0xDB:                 # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    return None            # 16-bit tables out of scope
                qt[tq] = np.frombuffer(seg[p + 1:p + 65],
                                       dtype=np.uint8).astype(np.int64)
                p += 65
        elif marker == 0xC4:               # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                if len(vals) != nv:
                    raise _Invalid("truncated DHT")
                huff[(tc, th)] = _build_decode(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1):       # SOF0/1 — baseline decode
            if seg[0] != 8:
                return None                # 12-bit out of scope
            h = (seg[1] << 8) | seg[2]
            w = (seg[3] << 8) | seg[4]
            ncomp = seg[5]
            if ncomp not in (1, 3) or h <= 0 or w <= 0:
                return None
            comps = []
            for i in range(ncomp):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * i]))
            if any(hs not in (1, 2) or vs not in (1, 2)
                   for _, hs, vs, _ in comps):
                return None
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None                    # progressive / arithmetic / ...
        elif marker == 0xDD:               # DRI
            dri = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:               # SOS
            if frame is None:
                raise _Invalid("SOS before SOF")
            ns = seg[0]
            order = []
            by_id = {c[0]: i for i, c in enumerate(frame[2])}
            for i in range(ns):
                cs = seg[1 + 2 * i]
                tda = seg[2 + 2 * i]
                if cs not in by_id:
                    raise _Invalid("unknown scan component")
                order.append((by_id[cs], tda >> 4, tda & 0x0F))
            segs, pos = _split_scan(data, pos)
            scan = (order, segs)
            break                          # single-scan baseline

    if frame is None or scan is None:
        return None
    h, w, comps = frame
    order, segs = scan
    if len(order) != len(comps):
        return None                       # non-interleaved out of scope

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component zigzag coefficient store, MCU-ordered block grids
    grids = []
    for _, hs, vs, _ in comps:
        grids.append(np.zeros((mcus_y * vs, mcus_x * hs, 64),
                              dtype=np.int64))

    seg_idx = 0
    reader = _BitReader(segs[0])
    preds = [0] * len(comps)
    coef = np.zeros(64, dtype=np.int64)
    for mcu in range(mcus_x * mcus_y):
        if dri and mcu and mcu % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise _Invalid("missing restart segment")
            reader = _BitReader(segs[seg_idx])
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcus_x)
        for ci, td, ta in order:
            _, hs, vs, _ = comps[ci]
            dc_t = huff.get((0, td))
            ac_t = huff.get((1, ta))
            if dc_t is None or ac_t is None:
                raise _Invalid("missing Huffman table")
            for v in range(vs):
                for u in range(hs):
                    coef[:] = 0
                    s = reader.read_huff(dc_t)
                    if s > 15:
                        raise _Invalid("bad DC category")
                    preds[ci] += reader.receive_extend(s)
                    coef[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = reader.read_huff(ac_t)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break          # EOB
                        k += r
                        if k > 63:
                            raise _Invalid("AC run past block")
                        coef[k] = reader.receive_extend(s)
                        k += 1
                    grids[ci][my * vs + v, mx * hs + u] = coef

    # pixel math — vectorized over all blocks per component
    planes = []
    for (cid, hs, vs, tq), grid in zip(comps, grids):
        if tq not in qt:
            raise _Invalid("missing quant table")
        bh, bw, _ = grid.shape
        deq = (grid.reshape(-1, 64) * qt[tq][None, :]).astype(np.float64)
        blocks = np.zeros((bh * bw, 64))
        blocks[:, ZIGZAG] = deq            # dezigzag
        blocks = blocks.reshape(-1, 8, 8)
        spatial = _A.T @ blocks @ _A + 128.0
        px = np.clip(np.floor(spatial + 0.5), 0, 255).astype(np.uint8)
        plane = (px.reshape(bh, bw, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        plane = plane[:ch, :cw]
        if vs != vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        if hs != hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return w, h, np.ascontiguousarray(
            np.repeat(planes[0][:, :, None], 3, axis=2))
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    rgb = np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
    return w, h, np.ascontiguousarray(rgb)


# --------------------------------------------------------------------------
# encoder (fixture / round-trip builder)
# --------------------------------------------------------------------------


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF color transform with explicit floor(x + 0.5) rounding (so the
    fixture oracle is closed-form in SQL): rgb[...,3] uint8 -> ycbcr
    [...,3] uint8."""
    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, code: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def flush(self) -> bytes:
        """Pad with 1-bits to a byte boundary and byte-stuff 0xFF."""
        pad = (-len(self.bits)) % 8
        arr = np.array(self.bits + [1] * pad, dtype=np.uint8)
        raw = np.packbits(arr).tobytes() if len(arr) else b""
        self.bits = []
        return raw.replace(b"\xFF", b"\xFF\x00")


def _encode_block(bw: _BitWriter, coefz: np.ndarray, pred: int,
                  dc_map, ac_map) -> int:
    diff = int(coefz[0]) - pred
    s = int(abs(diff)).bit_length()
    code, ln = dc_map[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(coefz)[0])) if np.any(coefz[1:]) else 0
    for k in range(1, 64):
        v = int(coefz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_map[0xF0]        # ZRL
            bw.write(code, ln)
            run -= 16
        s = int(abs(v)).bit_length()
        code, ln = ac_map[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
        if k == last_nz:
            break
    if last_nz < 63:
        code, ln = ac_map[0x00]            # EOB
        bw.write(code, ln)
    return int(coefz[0])


def _plane_coefs(plane: np.ndarray, q: np.ndarray,
                 bw_blocks: int, bh_blocks: int) -> np.ndarray:
    """plane (uint8, padded to 8-multiples) -> (bh, bw, 64) quantized
    zigzag coefficients; FDCT is one batched matmul."""
    h8, w8 = bh_blocks * 8, bw_blocks * 8
    padded = np.pad(plane.astype(np.float64) - 128.0,
                    ((0, h8 - plane.shape[0]), (0, w8 - plane.shape[1])),
                    mode="edge")
    blocks = (padded.reshape(bh_blocks, 8, bw_blocks, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    coefs = _A @ blocks @ _A.T
    q_raster = np.empty(64, dtype=np.float64)
    q_raster[ZIGZAG] = q                   # zigzag table -> raster layout
    quant = np.floor(coefs / q_raster.reshape(8, 8)[None, :, :]
                     + 0.5).astype(np.int64)
    # raster-flat -> zigzag order (coefz[i] = raster[ZIGZAG[i]])
    return quant.reshape(bh_blocks, bw_blocks, 64)[:, :, ZIGZAG]


def encode_jpeg(rgb: np.ndarray, *, quant: np.ndarray = QUANT_ONES,
                subsample: bool = True, grayscale: bool = False,
                restart_interval: int = 0) -> bytes:
    """rgb[h, w, 3] uint8 -> baseline JFIF bytes.  ``quant`` is one
    64-entry zigzag table used for every component (all-ones default =
    effectively lossless, the closed-form-oracle fixture mode);
    ``subsample`` picks 4:2:0 vs 4:4:4; ``restart_interval`` > 0 emits
    DRI + RSTn markers every that many MCUs (decoder path coverage).
    Tables are always embedded, so any conformant decoder round-trips
    this output regardless of table choice."""
    h, w, _ = rgb.shape
    quant = np.asarray(quant, dtype=np.int64)
    if grayscale:
        planes = [rgb_to_ycbcr(rgb)[:, :, 0]]
        samps = [(1, 1)]
    else:
        ycc = rgb_to_ycbcr(rgb)
        y, cb, cr = ycc[:, :, 0], ycc[:, :, 1], ycc[:, :, 2]
        if subsample:
            he, we = h + (h % 2), w + (w % 2)
            def half(p):
                pp = np.pad(p.astype(np.float64),
                            ((0, he - h), (0, we - w)), mode="edge")
                m = (pp.reshape(he // 2, 2, we // 2, 2)
                     .mean(axis=(1, 3)))
                return np.floor(m + 0.5).astype(np.uint8)
            planes = [y, half(cb), half(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    coef_grids = [
        _plane_coefs(p, quant, mcus_x * hs, mcus_y * vs)
        for p, (hs, vs) in zip(planes, samps)
    ]

    dc_map = _build_encode(_DC_BITS, _DC_VALS)
    ac_map = _build_encode(_AC_BITS, _AC_VALS)

    bw = _BitWriter()
    chunks: list[bytes] = []
    preds = [0] * len(planes)
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            chunks.append(bw.flush())
            chunks.append(bytes([0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]))
            preds = [0] * len(planes)
        my, mx = divmod(mcu, mcus_x)
        for ci, (hs, vs) in enumerate(samps):
            for v in range(vs):
                for u in range(hs):
                    coefz = coef_grids[ci][my * vs + v, mx * hs + u]
                    preds[ci] = _encode_block(bw, coefz, preds[ci],
                                              dc_map, ac_map)
    chunks.append(bw.flush())
    scan_bytes = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xFF\xD8")
    out += seg(0xDB, bytes([0x00]) + bytes(quant.astype(np.uint8)))
    ncomp = len(planes)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([ncomp])
    for i, (hs, vs) in enumerate(samps):
        sof += bytes([i + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += scan_bytes
    out += b"\xFF\xD9"
    return bytes(out)


def ycbcr_roundtrip_rgb(rgb_color: tuple[int, int, int]) -> tuple[int, int, int]:
    """Closed-form decode expectation for a solid color pushed through
    encode_jpeg(quant=ones): RGB -> (rounded, clipped) YCbCr -> RGB with
    the decoder's floor(x + 0.5) rounding.  This is exactly what the
    DuckDB oracle twin computes in SQL."""
    ycc = rgb_to_ycbcr(np.array([[rgb_color]], dtype=np.uint8))[0, 0]
    y, cb, cr = (float(v) for v in ycc)
    r = np.floor(y + 1.402 * (cr - 128.0) + 0.5)
    g = np.floor(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5)
    b = np.floor(y + 1.772 * (cb - 128.0) + 0.5)
    return tuple(int(np.clip(v, 0, 255)) for v in (r, g, b))
