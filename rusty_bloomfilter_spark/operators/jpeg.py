"""Baseline JFIF (SOF0) JPEG codec in pure numpy — no codec libraries.

The first compressed image format a crawl pipeline actually meets is
JPEG, so the distributed media operators need a real decode path in an
environment with no PIL/libjpeg/ffmpeg. Same zero-dependency pattern as
the PNG inflate codec in multimodal.py: struct for headers, numpy for
the math, spec-faithful algorithms (ITU-T T.81):

- encoder: RGB -> BT.601 YCbCr, optional 4:2:0 chroma subsampling,
  8x8 forward DCT (orthonormal matrix product, vectorized over all
  blocks), Annex-K quantization tables scaled by libjpeg's quality
  curve, zigzag, differential-DC + run-length-AC Huffman coding with
  the Annex-K typical tables, 0xFF byte stuffing.
- decoder: segment parser (SOI/APP*/COM/DQT/SOF0/DHT/DRI/SOS/EOI),
  canonical Huffman decode (per-length mincode/maxcode/valptr walk,
  F.2.2.3), restart-marker handling, dequantize, dezigzag, vectorized
  IDCT over all blocks of a component, nearest-neighbor chroma
  upsampling for subsampled scans, YCbCr -> RGB.

Only baseline sequential 8-bit scans (SOF0) decode; progressive (SOF2)
or arithmetic-coded streams raise NotImplementedError with the marker
named. Encoding is lossy by design — round-trip tests bound per-pixel
error on smooth content and pin exact header bytes, not pixels.

Scale shape: decode is inherently per-payload; parallelism comes from
Spark partitioning media rows across tasks (multimodal.media_stats
slices Arrow batches so a task never materializes gigabytes of pixels).
Entropy decoding walks bits in Python per symbol — fine for feature
extraction over thumbnails/test assets; a production cluster would ship
libjpeg-turbo in the image, and this module documents exactly what that
replaces.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Spec constants (ITU-T T.81 Annex K)
# --------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1 luminance / K.2 chrominance quantization tables (natural order)
QT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QT_CHROM = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (BITS counts for lengths 1..16, HUFFVAL)
HT_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
        0xF9, 0xFA,
    ],
)
HT_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 type-II DCT matrix D: FDCT(B) = D B D^T."""
    k = np.arange(8, dtype=np.float64)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16.0)
    d *= np.sqrt(2.0 / 8.0)
    d[0, :] *= 1.0 / np.sqrt(2.0)
    return d


_D = _dct_matrix()


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) float spatial -> (n, 8, 8) DCT coefficients."""
    return np.einsum("ij,njk,lk->nil", _D, blocks, _D, optimize=True)


def _idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) coefficients -> (n, 8, 8) float spatial."""
    return np.einsum("ji,njk,kl->nil", _D, coefs, _D, optimize=True)


def quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality->scale curve (quality 1..100)."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# --------------------------------------------------------------------------
# Huffman code construction (canonical, C.2)
# --------------------------------------------------------------------------


def _build_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffDecoder:
    """Canonical Huffman decode tables (F.2.2.3 DECODE procedure),
    plus a 16-bit-peek lookup table (r6): ``lut[prefix16]`` packs
    ``(code_length << 8) | symbol`` for every 16-bit prefix whose head
    is a valid code; 0 marks prefixes no <=16-bit code matches (the
    same condition the bit-at-a-time DECODE loop rejected). This turns
    the per-symbol decode from one Python call + numpy scalar index
    PER BIT into one list index per SYMBOL (measured ~15x on the
    budget corpus, bit-identical output — see OPTIMIZATION_r06.md)."""

    __slots__ = ("mincode", "maxcode", "valptr", "huffval", "lut")

    def __init__(self, bits: list[int], huffval: list[int]):
        self.huffval = huffval
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        lut = np.zeros(1 << 16, dtype=np.int32)
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                for _ in range(bits[length - 1]):
                    base = code << (16 - length)
                    lut[base : base + (1 << (16 - length))] = (length << 8) | huffval[k]
                    code += 1
                    k += 1
                self.maxcode[length] = code - 1
            code <<= 1
        self.lut = lut.tolist()


class _BitReader:
    """MSB-first bit reader over destuffed entropy bytes.

    r6 rewrite: a bit accumulator refilled a byte at a time from the
    (zero-padded) buffer replaces the per-bit ``np.unpackbits`` walk;
    Huffman symbols resolve with one 16-bit peek against the table's
    LUT. ``pos`` keeps the absolute-bit-index semantics the restart
    handling relies on. Consuming past the true stream end raises
    IndexError exactly like the old reader (decode_jpeg maps it to the
    ValueError truncation path); peeks may touch the zero padding, but
    only a *consume* beyond ``nbits`` errors, so valid streams whose
    last code ends mid-byte are unaffected."""

    __slots__ = ("buf", "nbits", "acc", "navail", "bytepos")

    def __init__(self, data: np.ndarray):
        b = np.asarray(data, dtype=np.uint8)
        self.nbits = int(b.size) * 8
        self.buf = b.tobytes() + b"\x00\x00\x00\x00"
        self.acc = 0
        self.navail = 0
        self.bytepos = 0

    @property
    def pos(self) -> int:
        return self.bytepos * 8 - self.navail

    @pos.setter
    def pos(self, p: int) -> None:
        self.bytepos = p >> 3
        self.acc = 0
        self.navail = 0
        if p & 7:
            self.read_bits(p & 7)

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        navail = self.navail
        while navail < n:
            # mask to 24 bits: without it the consumed high bits pile
            # into an ever-growing bignum and every shift goes O(len)
            self.acc = ((self.acc << 8) | self.buf[self.bytepos]) & 0xFFFFFF
            self.bytepos += 1
            navail += 8
        navail -= n
        self.navail = navail
        if self.bytepos * 8 - navail > self.nbits:
            raise IndexError("entropy stream exhausted")
        return (self.acc >> navail) & ((1 << n) - 1)

    def receive_extend(self, t: int) -> int:
        """F.2.2.1 RECEIVE+EXTEND fused: t raw bits -> signed coeff."""
        if t == 0:
            return 0
        v = self.read_bits(t)
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    def decode(self, table: _HuffDecoder) -> int:
        navail = self.navail
        while navail < 16:
            self.acc = ((self.acc << 8) | self.buf[self.bytepos]) & 0xFFFFFF
            self.bytepos += 1
            navail += 8
        v = table.lut[(self.acc >> (navail - 16)) & 0xFFFF]
        length = v >> 8
        if length == 0:
            raise ValueError("corrupt JPEG: huffman code longer than 16 bits")
        navail -= length
        self.navail = navail
        if self.bytepos * 8 - navail > self.nbits:
            raise IndexError("entropy stream exhausted")
        return v & 0xFF


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (B.1.1.5)."""
        if self.nbits:
            pad = 8 - self.nbits
            byte = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF  # 1-fill
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0

    def restart(self, n: int) -> None:
        """Emit RSTn (byte-aligned, unstuffed marker)."""
        self.align()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (category bits, raw bits) per F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = int(a).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


# --------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full range)
# --------------------------------------------------------------------------


def rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    f = px.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Blocking helpers
# --------------------------------------------------------------------------


def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Edge-replicate pad a 2-D plane to 8-multiples, return
    (blocks (n,8,8) row-major over block grid, blocks_w, blocks_h)."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    bw, bh = ww // 8, hh // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bw, bh


def _from_blocks(blocks: np.ndarray, bw: int, bh: int, h: int, w: int) -> np.ndarray:
    plane = blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return plane[:h, :w]


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def encode_jpeg(
    pixels: np.ndarray,
    *,
    quality: int = 85,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> baseline JFIF bytes.

    ``subsample``: "444" (one 8x8 chroma block per luma block) or "420"
    (2x2 luma blocks per chroma block, the common crawl layout) —
    ignored for grayscale input. ``restart_interval`` > 0 emits a DRI
    segment and RSTn markers every that many MCUs (resets DC
    prediction) — real encoders use this for error resilience, and it
    exercises the decoder's restart path.
    """
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("expected (H, W, 3) RGB or (H, W) grayscale uint8")
    if subsample not in ("444", "420"):
        raise ValueError(f"subsample must be '444' or '420', got {subsample!r}")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")

    qt_l = quality_scale(QT_LUM, quality)
    qt_c = quality_scale(QT_CHROM, quality)

    if gray:
        planes = [px.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        qts = [qt_l]
    else:
        ycc = rgb_to_ycbcr(px)
        ys = ycc[..., 0]
        if subsample == "420":
            ph, pw = (-h) % 2, (-w) % 2
            cc = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
            cb = cc[0::2, 0::2, 1] + cc[0::2, 1::2, 1] + cc[1::2, 0::2, 1] + cc[1::2, 1::2, 1]
            cr = cc[0::2, 0::2, 2] + cc[0::2, 1::2, 2] + cc[1::2, 0::2, 2] + cc[1::2, 1::2, 2]
            planes = [ys - 128.0, cb / 4.0 - 128.0, cr / 4.0 - 128.0]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [ys - 128.0, ycc[..., 1] - 128.0, ycc[..., 2] - 128.0]
            samp = [(1, 1), (1, 1), (1, 1)]
        qts = [qt_l, qt_c, qt_c]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    # quantized zigzag blocks per component, in block-grid row-major order
    comp_blocks: list[np.ndarray] = []
    comp_grid: list[tuple[int, int]] = []
    for plane, qt in zip(planes, qts):
        blocks, bw, bh = _to_blocks(plane)
        coefs = _fdct_blocks(blocks)
        q = np.round(coefs.reshape(-1, 64) / qt.reshape(8, 8).reshape(-1)[None, :].astype(np.float64))
        zz = q[:, ZIGZAG].astype(np.int64)
        comp_blocks.append(zz)
        comp_grid.append((bw, bh))

    dc_codes = [_build_codes(*HT_DC_LUM)] + ([_build_codes(*HT_DC_CHROM)] * 2 if not gray else [])
    ac_codes = [_build_codes(*HT_AC_LUM)] + ([_build_codes(*HT_AC_CHROM)] * 2 if not gray else [])

    # MCU geometry
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    writer = _BitWriter()
    pred = [0] * len(planes)

    def emit_block(ci: int, zz: np.ndarray) -> None:
        dc = int(zz[0])
        diff = dc - pred[ci]
        pred[ci] = dc
        t, raw = _magnitude(diff)
        code, ln = dc_codes[ci][t]
        writer.write(code, ln)
        if t:
            writer.write(raw, t)
        run = 0
        last_nz = 0
        nz = np.nonzero(zz[1:])[0]
        last_nz = int(nz[-1]) + 1 if nz.size else 0
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[ci][0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            t, raw = _magnitude(v)
            code, ln = ac_codes[ci][(run << 4) | t]
            writer.write(code, ln)
            writer.write(raw, t)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[ci][0x00]  # EOB
            writer.write(code, ln)

    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                for ci in range(len(planes)):
                    pred[ci] = 0
            for ci, (hi, vi) in enumerate(samp):
                bw, bh = comp_grid[ci]
                for by in range(vi):
                    for bx in range(hi):
                        gx = min(mx * hi + bx, bw - 1)
                        gy = min(my * vi + by, bh - 1)
                        emit_block(ci, comp_blocks[ci][gy * bw + gx])
            mcu_count += 1
    entropy = writer.flush()

    # ---- headers ----
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xFFDB, b"\x01" + bytes(qt_c[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = samp[ci]
        sof += struct.pack(">BBB", ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1)
    out += seg(0xFFC0, sof)

    def dht(cls: int, tid: int, table: tuple[list[int], list[int]]) -> bytes:
        bits, vals = table
        return seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, HT_DC_LUM) + dht(1, 0, HT_AC_LUM)
    if not gray:
        out += dht(0, 1, HT_DC_CHROM) + dht(1, 1, HT_AC_CHROM)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


# Per-image byte budget for the pure-Python entropy decoder. The
# Huffman bit-walk is the ONE per-symbol Python loop in the repo
# (round-4 verdict): fine for thumbnails and fixture-scale media, a
# scale-killer if a corpus-size decode ever lands on it. Refuse large
# streams loudly instead of silently burning executor hours — a
# production cluster ships libjpeg-turbo for the decode tier, while the
# container/frame-plan tier (ranged reads, no decode) stays the 100-TB
# path. Mirrors the count-guard exception hygiene in containers.py.
DECODE_BUDGET_BYTES = 4 << 20  # 4 MiB compressed ≈ tens of MP decoded


class DecodeBudgetExceeded(ValueError):
    """Stream exceeds the Python-decode byte budget. A DISTINCT type so
    scan-level undecodable-media handlers (which legitimately swallow
    ValueError for corrupt streams) cannot silently absorb a budget
    refusal — budget hits must surface, not degrade output quality."""



def decode_jpeg(payload: bytes, *, allow_large: bool = False) -> np.ndarray:
    """Baseline JFIF bytes -> (H, W, 3) RGB (or (H, W) grayscale) uint8.

    Supports SOF0 (baseline sequential, 8-bit), any Hi/Vi sampling
    factors, multiple DQT/DHT segments, and DRI/RSTn restart markers.
    Progressive (SOF2), extended (SOF1), lossless, and arithmetic-coded
    streams raise NotImplementedError naming the marker.

    Streams larger than ``DECODE_BUDGET_BYTES`` raise ValueError unless
    ``allow_large=True``: the per-symbol Python entropy loop must never
    sit on a corpus-scale hot path (see budget note above).
    """
    if len(payload) > DECODE_BUDGET_BYTES and not allow_large:
        raise DecodeBudgetExceeded(
            f"JPEG stream of {len(payload)} bytes exceeds the "
            f"{DECODE_BUDGET_BYTES}-byte Python-decode budget; this "
            "thumbnail-tier decoder walks Huffman symbols in Python — "
            "pass allow_large=True only for explicit one-off decodes, "
            "or route bulk media through the container/frame-plan tier"
        )
    data = memoryview(payload)
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None  # (h, w, comps) where comps = [(id, hi, vi, tq)]
    restart_interval = 0
    scan = None

    try:
        while pos < len(data) - 1:
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker == 0xFF:  # B.1.1.2: optional FF fill bytes before a marker
                pos += 1
                continue
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:  # EOI
                break
            if pos + 2 > len(data):
                raise ValueError("truncated JPEG segment")
            seglen = struct.unpack(">H", data[pos : pos + 2])[0]
            body = bytes(data[pos + 2 : pos + seglen])
            if marker == 0xDB:  # DQT (may hold several tables)
                i = 0
                while i < len(body):
                    prec, tid = body[i] >> 4, body[i] & 0xF
                    i += 1
                    if prec == 0:
                        tbl = np.frombuffer(body, dtype=np.uint8, count=64, offset=i).astype(np.int64)
                        i += 64
                    else:
                        tbl = np.frombuffer(body, dtype=">u2", count=64, offset=i).astype(np.int64)
                        i += 128
                    qt[tid] = tbl[_UNZIGZAG]  # stored zigzag -> natural
            elif marker == 0xC4:  # DHT (may hold several tables)
                i = 0
                while i < len(body):
                    cls, tid = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(body[i + 17 : i + 17 + n])
                    # a DC symbol is a magnitude category; > 16 would
                    # overrun the decode loop's 24-bit accumulator
                    if cls == 0 and vals and max(vals) > 16:
                        raise ValueError("corrupt JPEG: DC category > 16")
                    (huff_dc if cls == 0 else huff_ac)[tid] = _HuffDecoder(bits, vals)
                    i += 17 + n
            elif marker == 0xC0:  # SOF0 baseline
                prec, h, w, nc = struct.unpack(">BHHB", body[:6])
                if prec != 8:
                    raise NotImplementedError(f"JPEG precision {prec} (only 8-bit)")
                comps = []
                for ci in range(nc):
                    cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                    comps.append((cid, hv >> 4, hv & 0xF, tq))
                frame = (h, w, comps)
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    f"JPEG SOF marker 0xFF{marker:02X} (only baseline SOF0 supported)"
                )
            elif marker == 0xDD:  # DRI
                restart_interval = struct.unpack(">H", body[:2])[0]
            elif marker == 0xDA:  # SOS
                ns = body[0]
                scan = [(body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF) for i in range(ns)]
                pos += seglen
                break
            pos += seglen

    except (IndexError, struct.error) as e:
        # short read anywhere in the segment headers (truncated DHT/
        # DQT/SOF body): surface as ValueError so distributed decoders
        # degrade to a metadata-only row instead of failing the task
        raise ValueError("truncated JPEG header segment") from e

    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    if len(scan) < len(frame[2]):
        # spec-legal baseline multi-scan file (one SOS per component):
        # this decoder only implements the single interleaved scan —
        # refuse loudly rather than walk non-interleaved MCUs with
        # interleaved geometry and emit garbage pixels
        raise NotImplementedError(
            f"multi-scan baseline JPEG ({len(scan)} of {len(frame[2])} "
            "components in first scan; only one interleaved scan supported)"
        )

    # entropy-coded bytes: destuff FF00, stop collecting at a non-RST
    # marker. r6: walk only the 0xFF positions (vectorized flatnonzero)
    # instead of stepping every byte in Python — stuffing/marker events
    # are ~1/200 bytes at typical qualities, so this removes ~99% of
    # the loop iterations (measured 0.16s -> ~0 per 140 KB image).
    # Event semantics identical to the per-byte walk: FF00 keeps the FF
    # and skips the 00, RSTn records a bit boundary and resumes after,
    # any other FFxx (including FFFF) terminates the scan, and a lone
    # trailing FF (no next byte) falls through to the tail append.
    raw = np.frombuffer(payload, dtype=np.uint8)
    ent_chunks: list[np.ndarray] = []
    rst_positions: list[int] = []  # bit offsets where RST boundaries land
    start = pos
    collected = 0
    ended = False
    i_next = pos
    for fi in (np.flatnonzero(raw[pos : len(raw) - 1] == 0xFF) + pos).tolist():
        if fi < i_next:  # second byte of an already-consumed event
            continue
        nxt = raw[fi + 1]
        if nxt == 0x00:
            ent_chunks.append(raw[start : fi + 1])
            collected += fi + 1 - start
            start = i_next = fi + 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # RSTn: boundary, resume after
            ent_chunks.append(raw[start:fi])
            collected += fi - start
            rst_positions.append(collected * 8)
            start = i_next = fi + 2
            continue
        ent_chunks.append(raw[start:fi])
        ended = True
        break
    if not ended:
        ent_chunks.append(raw[start : len(raw)])
    entropy = np.concatenate(ent_chunks) if ent_chunks else np.empty(0, dtype=np.uint8)

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component block grids sized to MCU coverage
    grids: dict[int, np.ndarray] = {}
    gdims: dict[int, tuple[int, int]] = {}
    for cid, hi, vi, _tq in comps:
        bw, bh = mcux * hi, mcuy * vi
        grids[cid] = np.zeros((bw * bh, 64), dtype=np.int64)
        gdims[cid] = (bw, bh)

    scan_info = []
    comp_by_id = {c[0]: c for c in comps}
    for cid, td, ta in scan:
        if cid not in comp_by_id:
            raise ValueError(f"scan references unknown component {cid}")
        if td not in huff_dc or ta not in huff_ac:
            # stripped/garbled DHT: ValueError (not KeyError) so
            # media_stats degrades to a metadata-only row
            raise ValueError(f"scan references undefined Huffman table dc={td} ac={ta}")
        scan_info.append((cid, huff_dc[td], huff_ac[ta]))

    reader = _BitReader(entropy)
    pred = {cid: 0 for cid, _, _ in scan}
    rst_iter = iter(rst_positions)

    try:
        _decode_mcus(
            reader, scan_info, comp_by_id, gdims, grids, pred, rst_iter,
            restart_interval, mcux, mcuy,
        )
    except IndexError as e:
        # bit reader ran off the end: truncated/corrupt entropy stream.
        # Surface as ValueError so distributed decoders (media_stats)
        # degrade to a metadata-only row instead of failing the task.
        raise ValueError("truncated JPEG entropy stream") from e

    # reconstruct each component plane
    planes: dict[int, np.ndarray] = {}
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise ValueError(f"component {cid} references undefined quant table {tq}")
        bw, bh = gdims[cid]
        zz = grids[cid]
        deq = np.empty_like(zz, dtype=np.float64)
        deq[:, ZIGZAG] = zz * qt[tq][ZIGZAG][None, :]
        spatial = _idct_blocks(deq.reshape(-1, 8, 8)) + 128.0
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        planes[cid] = np.clip(np.round(_from_blocks(spatial, bw, bh, ch, cw)), 0, 255)

    if len(comps) == 1:
        return planes[comps[0][0]].astype(np.uint8)

    # upsample chroma to full res (nearest-neighbor) and convert
    full = np.empty((h, w, 3), dtype=np.float64)
    for idx, (cid, hi, vi, _tq) in enumerate(comps):
        p = planes[cid]
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full[..., idx] = p[:h, :w]
    return ycbcr_to_rgb(full)


def _decode_mcus(
    reader, scan_info, comp_by_id, gdims, grids, pred, rst_iter,
    restart_interval, mcux, mcuy,
) -> None:
    """Entropy-decode every MCU into the per-component block grids.

    r6: the bit-reader state lives in LOCALS for the whole scan and the
    LUT decode + RECEIVE/EXTEND are inlined — at ~40k-8M Huffman symbols
    per image, per-symbol method calls and attribute loads were the
    dominant cost after the LUT landed (profiled). Semantics identical
    to the _BitReader methods (same masks, same consume-past-end
    IndexError that decode_jpeg maps to the truncation ValueError);
    state is written back to the reader on every exit path.
    """
    buf = reader.buf
    nbits = reader.nbits
    acc = reader.acc
    navail = reader.navail
    bytepos = reader.bytepos
    comps = []  # (cid, dc_lut, ac_lut, vi, hi, bw, grid)
    for cid, dct, act in scan_info:
        _, hi, vi, _tq = comp_by_id[cid]
        bw, _bh = gdims[cid]
        comps.append((cid, dct.lut, act.lut, vi, hi, bw, grids[cid]))
    mcu_count = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    nxt_bit = next(rst_iter, None)
                    if nxt_bit is not None:
                        bytepos = nxt_bit >> 3
                        acc = 0
                        navail = 0
                        rem = nxt_bit & 7
                        if rem:
                            acc = buf[bytepos]
                            bytepos += 1
                            navail = 8 - rem
                    for cid in pred:
                        pred[cid] = 0
                for cid, dlut, alut, vi, hi, bw, grid in comps:
                    for by in range(vi):
                        for bx in range(hi):
                            zz = grid[(my * vi + by) * bw + (mx * hi + bx)]
                            # --- DC: code + RECEIVE/EXTEND, inlined ---
                            while navail < 16:
                                acc = ((acc << 8) | buf[bytepos]) & 0xFFFFFF
                                bytepos += 1
                                navail += 8
                            v = dlut[(acc >> (navail - 16)) & 0xFFFF]
                            t = v >> 8
                            if t == 0:
                                raise ValueError(
                                    "corrupt JPEG: huffman code longer than 16 bits"
                                )
                            navail -= t
                            s = v & 0xFF
                            if s:
                                while navail < s:
                                    acc = ((acc << 8) | buf[bytepos]) & 0xFFFFFF
                                    bytepos += 1
                                    navail += 8
                                navail -= s
                                d = (acc >> navail) & ((1 << s) - 1)
                                pred[cid] += (
                                    d if d >= (1 << (s - 1)) else d - (1 << s) + 1
                                )
                            if bytepos * 8 - navail > nbits:
                                raise IndexError("entropy stream exhausted")
                            zz[0] = pred[cid]
                            # --- AC run-length loop, inlined ---
                            k = 1
                            while k <= 63:
                                while navail < 16:
                                    acc = ((acc << 8) | buf[bytepos]) & 0xFFFFFF
                                    bytepos += 1
                                    navail += 8
                                v = alut[(acc >> (navail - 16)) & 0xFFFF]
                                t = v >> 8
                                if t == 0:
                                    raise ValueError(
                                        "corrupt JPEG: huffman code longer than 16 bits"
                                    )
                                navail -= t
                                rs = v & 0xFF
                                s = rs & 0xF
                                if s == 0:
                                    if bytepos * 8 - navail > nbits:
                                        raise IndexError("entropy stream exhausted")
                                    if rs == 0xF0:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError("corrupt JPEG: AC index overflow")
                                while navail < s:
                                    acc = ((acc << 8) | buf[bytepos]) & 0xFFFFFF
                                    bytepos += 1
                                    navail += 8
                                navail -= s
                                d = (acc >> navail) & ((1 << s) - 1)
                                if bytepos * 8 - navail > nbits:
                                    raise IndexError("entropy stream exhausted")
                                zz[k] = d if d >= (1 << (s - 1)) else d - (1 << s) + 1
                                k += 1
                mcu_count += 1
    finally:
        reader.acc = acc
        reader.navail = navail
        reader.bytepos = bytepos
