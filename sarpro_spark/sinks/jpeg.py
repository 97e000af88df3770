"""Pure-Python baseline JPEG codec (W3 write + round-trip read).

The reference encodes JPEG via the `jpeg-encoder` crate
(/root/reference/src/io/writers/jpeg.rs:6-30 — studied, not copied). This
module implements the same surface from the public ITU-T T.81 spec so the
container's lack of PIL doesn't force a stub: baseline sequential DCT, JFIF,
4:4:4 (no chroma subsampling), grayscale or RGB, Annex-K quantization and
Huffman tables with libjpeg-style quality scaling.

Encoder design: every stage is numpy array operations, with no per-block or
per-coefficient Python. The DCT + quantization over all blocks is one einsum
per component. The entropy coder works on strips of MCU rows: it finds the
nonzero AC coefficients, derives their zero runs (ZRL codes) and magnitude
categories, looks the Huffman codes up in arrays built at import, merges each
code with its extra bits into one word, and packs the words MSB-first into
64-bit words, then stuffs 0x00 after every 0xFF byte. The DC predictors and
the partial byte carry from strip to strip, so the symbol arrays stay one
strip in size. Spark-side parallelism comes from one task per product
(writers.write_jpegs), not from threading inside the codec.

A matching decoder is included because the environment has no other JPEG
implementation to verify against: encode -> decode -> PSNR is asserted in
tests/test_writers.py, and the marker stream is checked structurally.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K tables ----------------------------------------------------------

QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)

QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.float64)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# canonical Huffman specs: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis (orthonormal)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _huff_lut(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Canonical Huffman as lookup arrays indexed by symbol: (code, length);
    length 0 marks a symbol the table does not define."""
    codes = np.zeros(256, np.uint64)
    lengths = np.zeros(256, np.uint64)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]], lengths[vals[k]] = code, length
            code += 1
            k += 1
        code <<= 1
    return codes, lengths


# per table class (0 = luminance, 1 = chrominance), indexed by symbol
_DC_CODE, _DC_LEN = (np.stack(t) for t in zip(
    _huff_lut(DC_LUMA_BITS, DC_LUMA_VALS), _huff_lut(DC_CHROMA_BITS, DC_CHROMA_VALS)))
_AC_CODE, _AC_LEN = (np.stack(t) for t in zip(
    _huff_lut(AC_LUMA_BITS, AC_LUMA_VALS), _huff_lut(AC_CHROMA_BITS, AC_CHROMA_VALS)))


_DC_SLOT = 63


def _prefix_lut() -> tuple[np.ndarray, np.ndarray]:
    """(code, length) of the bits that precede a coefficient's extra bits,
    per (table class, run slot 0..63, magnitude category 0..15), flattened.
    Slot _DC_SLOT = 63 is the DC code of the category. Slots 0..62 are an AC zero run:
    its ZRL codes (one per 16 zeros, at most 3) followed by the Huffman code
    of (run % 16, category)."""
    codes = np.zeros((2, 64, 16), np.uint64)
    lengths = np.zeros_like(codes)
    for t in range(2):
        codes[t, _DC_SLOT], lengths[t, _DC_SLOT] = _DC_CODE[t, :16], _DC_LEN[t, :16]
        zrl_code, zrl_len = int(_AC_CODE[t, 0xF0]), int(_AC_LEN[t, 0xF0])
        for run in range(63):
            n_zrl = run >> 4
            zrls = sum(zrl_code << (zrl_len * i) for i in range(n_zrl))
            for size in range(16):
                sym = ((run & 15) << 4) | size
                code_len = int(_AC_LEN[t, sym])
                codes[t, run, size] = (zrls << code_len) | int(_AC_CODE[t, sym])
                lengths[t, run, size] = n_zrl * zrl_len + code_len
    return codes.ravel(), lengths.ravel()


_PREFIX, _PREFIX_LEN = _prefix_lut()
# magnitude category of |v| for every 8-bit baseline coefficient or DC
# difference (|v| <= 2047)
_BIT_LENGTH = np.array([i.bit_length() for i in range(2048)], np.uint64)
# MCUs (one block per component) entropy-coded per strip: working memory of
# the symbol arrays is bounded by one strip, not by the image
_STRIP_BLOCKS = 1 << 14


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-style quality scaling (public knowledge)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.floor((table * scale + 50) / 100)
    return np.clip(q, 1, 255)


def _size_bits(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """JPEG magnitude category and its low-order bits, per value (uint64).
    A negative value's bits are its one's complement: v + 2**size - 1."""
    v = v.astype(np.int64)
    size = _BIT_LENGTH[np.abs(v)]
    bits = (v - (v < 0)).astype(np.uint64) & ((np.uint64(1) << size) - np.uint64(1))
    return size, bits


def _entropy_words(z: np.ndarray, tab: np.ndarray,
                   preds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Huffman words, in stream order, for blocks ``z`` (m, 64) of quantized
    zigzag coefficients in MCU order, block ``i`` coded with table class
    ``tab[i]``. ``preds`` holds each component's DC predictor and is advanced
    past these blocks. Each word is one Huffman code merged with its extra
    bits; an AC word also carries the ZRL codes before it (<= 59 bits)."""
    nc = len(preds)
    dc = z[:, 0].astype(np.int64).reshape(-1, nc)
    dc_diff = np.diff(np.vstack([preds, dc]), axis=0).ravel()
    preds[:] = dc[-1]

    # one symbol per DC and per nonzero AC coefficient, already in stream
    # order; each block's DC opens its symbols, so an AC coefficient's zero
    # run is the gap to the symbol before it
    coded = z != 0
    coded[:, 0] = True
    at = np.flatnonzero(coded)
    pos = at & 63
    is_dc = pos == 0
    v = z.ravel()[at]
    v[is_dc] = dc_diff
    size, bits = _size_bits(v)
    slot = np.where(is_dc, _DC_SLOT, at - np.roll(at, 1) - 1)
    lut = (tab[at >> 6] * 64 + slot) * 16 + size.astype(np.int64)
    word = (_PREFIX[lut] << size) | bits
    length = _PREFIX_LEN[lut] + size

    # end-of-block code after a block's last symbol when zeros trail it
    last = np.flatnonzero(np.r_[is_dc[1:], True])
    last = last[pos[last] < 63]
    t = tab[at[last] >> 6]
    return (np.insert(word, last + 1, _AC_CODE[t, 0x00]),
            np.insert(length, last + 1, _AC_LEN[t, 0x00]))


def _pack(word: np.ndarray, length: np.ndarray) -> tuple[bytes, int, int]:
    """Concatenate the words MSB-first (each <= 64 bits). Returns the whole
    bytes, 0xFF-stuffed, and the leftover partial byte as (value, n_bits)."""
    length = length.astype(np.int64)
    end = np.cumsum(length)
    total = int(end[-1])
    start = end - length
    # w: the 64-bit word a code word starts in; e: where it ends, in bits
    # from the start of w (at most 63 + 59)
    w, e = start >> 6, (start & 63) + length
    fits = e <= 64
    hi = np.where(fits, word << np.where(fits, 64 - e, 0).astype(np.uint64),
                  word >> np.where(fits, 0, e - 64).astype(np.uint64))
    out = np.zeros((total + 63) // 64, np.uint64)
    heads = np.flatnonzero(np.r_[True, w[1:] != w[:-1]])
    out[w[heads]] = np.bitwise_or.reduceat(hi, heads)
    spill = ~fits  # the word runs into the next 64-bit word
    out[w[spill] + 1] |= word[spill] << (128 - e[spill]).astype(np.uint64)
    raw = np.frombuffer(out.astype(">u8").tobytes(), np.uint8)
    n_bytes, n_left = divmod(total, 8)
    left = int(raw[n_bytes]) >> (8 - n_left) if n_left else 0
    raw = raw[:n_bytes]
    raw = np.insert(raw, np.flatnonzero(raw == 0xFF) + 1, 0)  # byte stuffing
    return raw.tobytes(), left, n_left


def _blocks(channel: np.ndarray) -> np.ndarray:
    """(rows, cols) -> (n_blocks, 8, 8) with edge replication padding."""
    rows, cols = channel.shape
    pr, pc = (-rows) % 8, (-cols) % 8
    if pr or pc:
        channel = np.pad(channel, ((0, pr), (0, pc)), mode="edge")
    r8, c8 = channel.shape[0] // 8, channel.shape[1] // 8
    return (
        channel.reshape(r8, 8, c8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _quantize_all(channel: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """DCT + quantize every 8x8 block of a level-shifted channel; returns
    (n_blocks, 64) int32 in zigzag order. One einsum — no per-block Python."""
    b = _blocks(channel.astype(np.float64) - 128.0)
    coef = np.einsum("ux,nxy,vy->nuv", _C, b, _C, optimize=True)
    q = np.rint(coef / qtab).astype(np.int32)
    return q.reshape(-1, 64)[:, ZIGZAG]


def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """Encode (rows, cols) grayscale or (rows, cols, 3) RGB uint8 to baseline
    JFIF bytes. 4:4:4 sampling (every component full resolution)."""
    if arr.dtype != np.uint8:
        raise ValueError("JPEG input must be uint8")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("expected (rows, cols) or (rows, cols, 3)")
    rows, cols = arr.shape[:2]
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)

    if gray:
        comps = [_quantize_all(arr.astype(np.float64), ql)]
    else:
        y, cb, cr = _rgb_to_ycbcr(arr)
        comps = [
            _quantize_all(y, ql),
            _quantize_all(cb, qc),
            _quantize_all(cr, qc),
        ]

    # entropy-code strips of whole MCU rows, carrying the DC predictors and
    # the partial byte from strip to strip
    nc = len(comps)
    bc8 = (cols + 7) // 8
    step = max(1, _STRIP_BLOCKS // bc8) * bc8
    n_blocks = comps[0].shape[0]
    tab_mcu = np.array([0] + [1] * (nc - 1))
    preds = np.zeros(nc, np.int64)
    scan, left, n_left = bytearray(), 0, 0
    for b0 in range(0, n_blocks, step):
        z = np.stack([c[b0:b0 + step] for c in comps], axis=1).reshape(-1, 64)
        word, length = _entropy_words(z, np.tile(tab_mcu, len(z) // nc), preds)
        if n_left:
            word = np.r_[np.uint64(left), word]
            length = np.r_[np.uint64(n_left), length]
        pad = -int(length.sum()) % 8 if b0 + step >= n_blocks else 0
        if pad:  # fill the last byte with 1-bits
            word = np.r_[word, np.uint64((1 << pad) - 1)]
            length = np.r_[length, np.uint64(pad)]
        data, left, n_left = _pack(word, length)
        scan += data

    out = bytearray()
    out += b"\xFF\xD8"  # SOI
    out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tab in ([(0, ql)] if gray else [(0, ql), (1, qc)]):
        zz = tab.reshape(-1)[ZIGZAG].astype(np.uint8)
        out += b"\xFF\xDB" + struct.pack(">HB", 67, tq) + zz.tobytes()
    nf = 1 if gray else 3
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * nf, 8, rows, cols, nf)
    for ci in range(nf):
        out += struct.pack("BBB", ci + 1, 0x11, 0 if ci == 0 else 1)
    hts = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        hts += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS), (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    for tc_th, bits, vals in hts:
        out += b"\xFF\xC4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * nf, nf)
    for ci in range(nf):
        out += struct.pack("BB", ci + 1, 0x00 if ci == 0 else 0x11)
    out += b"\x00\x3F\x00"
    out += scan
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# --- decoder (round-trip verification) ---------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        #: set when the reader pads past the END of the byte stream with no
        #: marker byte in sight — a well-formed scan always ends at a marker
        #: (EOI), so this firing means the entropy data was truncated and
        #: everything decoded from the padding is garbage. Checked after the
        #: block loop (decode_baseline) so truncated blobs raise instead of
        #: silently returning ok (r5 ADVICE: the zero-padding that made
        #: marker-terminated streams decode cleanly also swallowed truncation).
        self.exhausted = False

    def _fill(self, n: int) -> None:
        data, pos = self.data, self.pos
        while self.nbits < n:
            if pos < len(data):
                b = data[pos]
                pos += 1
                if b == 0xFF:
                    nxt = data[pos] if pos < len(data) else 0xD9
                    if nxt == 0x00:
                        pos += 1  # unstuff
                    else:
                        b = 0  # marker hit: feed zeros (EOB padding)
                        pos -= 1
            else:
                b = 0  # past end with NO marker: truncated stream
                self.exhausted = True
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        self.pos = pos

    def read(self, n: int) -> int:
        if self.nbits < n:
            self._fill(n)
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1


_LOOKUP_CACHE: dict[tuple, tuple[list[int], list[int]]] = {}


def _huff_decoder(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """16-bit-lookahead Huffman tables (val16, len16): every 16-bit window
    beginning with a code maps to its (value, code length), so one peek +
    two list lookups replace the bit-at-a-time walk (~10x on the decode
    hot path). Cached per (bits, vals) — the Annex K tables every stream
    from our encoder carries — so table build cost is paid once, not per
    image."""
    key = (tuple(bits), tuple(vals))
    hit = _LOOKUP_CACHE.get(key)
    if hit is not None:
        return hit
    val16 = np.zeros(65536, np.int32)
    len16 = np.zeros(65536, np.int32)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (16 - length)
            span = 1 << (16 - length)
            val16[start:start + span] = vals[k]
            len16[start:start + span] = length
            code += 1
            k += 1
        code <<= 1
    out = (val16.tolist(), len16.tolist())
    _LOOKUP_CACHE[key] = out
    return out


def _read_huff(br: _BitReader, dec: tuple[list[int], list[int]]) -> int:
    w = br.peek16()
    length = dec[1][w]
    if length == 0:
        raise ValueError("invalid Huffman code")
    br.skip(length)
    return dec[0][w]


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JFIF bytes produced by :func:`encode_jpeg` (4:4:4 or
    grayscale, no restart markers). Returns uint8 (rows, cols[, 3])."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, tuple[list[int], list[int]]] = {}  # 16-bit lookup tables
    comps: list[dict] = []
    rows = cols = 0
    scan_order: list[dict] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(seg):
                tq = seg[p] & 0x0F
                if seg[p] >> 4:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[p + 1:p + 65], dtype=np.uint8).astype(np.float64)
                tab = np.zeros(64)
                tab[ZIGZAG] = zz
                qtabs[tq] = tab.reshape(8, 8)
                p += 65
        elif marker == 0xC0:  # SOF0
            _, rows, cols, nf = struct.unpack(">BHHB", seg[:6])
            for ci in range(nf):
                cid, samp, tq = struct.unpack("BBB", seg[6 + 3 * ci:9 + 3 * ci])
                if samp != 0x11:
                    raise NotImplementedError("subsampling not supported")
                comps.append({"id": cid, "tq": tq})
        elif marker in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError("baseline sequential only")
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1:p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17:p + 17 + nvals])
                htabs[tc_th] = _huff_decoder(bits, vals)
                p += 17 + nvals
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for ci in range(ns):
                cid, tdta = seg[1 + 2 * ci], seg[2 + 2 * ci]
                comp = next(c for c in comps if c["id"] == cid)
                scan_order.append(
                    {**comp, "dc": tdta >> 4, "ac": tdta & 0x0F}
                )
            pos += seglen
            break  # entropy data follows
        pos += seglen

    br = _BitReader(data[pos:])
    n_comp = len(scan_order)
    br8 = (rows + 7) // 8
    bc8 = (cols + 7) // 8
    n_blocks = br8 * bc8
    # entropy decode into per-component zigzag coefficient matrices; the
    # dequant + IDCT then runs ONCE per component as a batched matmul over
    # all blocks (the per-block Python is only the inherently-serial
    # Huffman walk)
    zall = [np.zeros((n_blocks, 64)) for _ in range(n_comp)]
    preds = [0] * n_comp
    for bi in range(n_blocks):
        for ci, comp in enumerate(scan_order):
            dc_dec = htabs[comp["dc"]]
            ac_dec = htabs[0x10 | comp["ac"]]
            z = zall[ci][bi]
            size = _read_huff(br, dc_dec)
            diff = _extend(br.read(size), size) if size else 0
            preds[ci] += diff
            z[0] = preds[ci]
            k = 1
            while k < 64:
                rs = _read_huff(br, ac_dec)
                run, size = rs >> 4, rs & 0x0F
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += run
                z[k] = _extend(br.read(size), size)
                k += 1
    if br.exhausted:
        raise ValueError(
            "truncated JPEG: entropy stream ended before the final block "
            "with no terminating marker"
        )

    planes = []
    for ci, comp in enumerate(scan_order):
        blk = np.zeros((n_blocks, 64))
        blk[:, ZIGZAG] = zall[ci]
        coef = blk.reshape(n_blocks, 8, 8) * qtabs[comp["tq"]]
        pix = _C.T @ coef @ _C + 128.0  # batched over the block axis
        plane = (
            pix.reshape(br8, bc8, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(br8 * 8, bc8 * 8)
        )
        planes.append(plane)

    planes = [p[:rows, :cols] for p in planes]
    if n_comp == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
