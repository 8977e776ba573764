"""Pure-stdlib baseline JPEG codec (ITU-T T.81 / ISO 10918-1).

The reference decodes JPEG via a TF graph op (reference:
make_tf_record.py:18-19 ``tf.image.decode_jpeg``; data_queue.py:29). The
engine carries a REAL baseline codec: sequential DCT, huffman entropy
coding with the Annex-K standard tables, 8-bit precision, grayscale (1
component) and YCbCr color (3 components, sampling factors 1-2 per
axis). Progressive (SOF2) and other non-baseline streams raise
ValueError.

Everything here is public-spec knowledge: marker structure and huffman
table layout from T.81 Annex B/C/F, the standard quantization and huffman
tables from Annex K, the JFIF APP0 header from the JFIF 1.02 spec.

Exactness property used by the oracle-checked corpus (operators/
multimodal.py q8d): an image made of FLAT 8x8 blocks has a DC-only DCT
(AC coefficients are exactly zero), and with a unit quantization table the
DC coefficient 8*(v-128) is stored without rounding loss — so grayscale
flat-block JPEGs round-trip BIT-EXACTLY, and DuckDB can re-derive every
decoded pixel in SQL. Arbitrary images round-trip within a small tolerance
(float DCT + quantization), pinned by tests/test_multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K).
# --------------------------------------------------------------------------

# Zigzag scan order: _ZIGZAG[k] = flat index into the 8x8 block of the k-th
# coefficient in zigzag order.
_ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
       17, 24, 32, 25, 18, 11,  4,  5,
       12, 19, 26, 33, 40, 48, 41, 34,
       27, 20, 13,  6,  7, 14, 21, 28,
       35, 42, 49, 56, 57, 50, 43, 36,
       29, 22, 15, 23, 30, 37, 44, 51,
       58, 59, 52, 45, 38, 31, 39, 46,
       53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(_ZIGZAG)

# Standard luminance / chrominance quantization tables (Annex K.1), in
# natural (row-major) order.
_STD_QUANT_LUMA = np.array(
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
_STD_QUANT_CHROMA = np.array(
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

# Standard huffman tables (Annex K.3): (BITS counts per code length 1..16,
# HUFFVAL symbol list).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
]

# Orthonormal 8-point DCT-II matrix: FDCT(B) = D @ B @ D.T (after level
# shift), IDCT(C) = D.T @ C @ D. Matches T.81 Annex A up to the standard
# 1/4 * C(u)C(v) scaling folded into the matrix.
_D = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _D[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _build_huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C canonical code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_ENC_DC = (_build_huffman_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
           _build_huffman_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
_ENC_AC = (_build_huffman_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
           _build_huffman_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))


def _magnitude_category(v: int) -> int:
    """SSSS category: number of bits to represent |v| (T.81 F.1.2.1.1)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


class _BitWriter:
    """MSB-first bit accumulator with 0xFF -> 0xFF 0x00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self._nbits -= 8
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """(luma, chroma) quantization tables scaled per the IJG quality
    convention; quality=100 yields all-ones tables (lossless DC for flat
    blocks)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    luma = np.clip((_STD_QUANT_LUMA * scale + 50) // 100, 1, 255)
    chroma = np.clip((_STD_QUANT_CHROMA * scale + 50) // 100, 1, 255)
    return luma.astype(np.int64), chroma.astype(np.int64)


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """JFIF full-range RGB -> YCbCr (float, unclamped)."""
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF YCbCr -> RGB uint8 with clamping."""
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _pad_to_blocks(plane: np.ndarray) -> np.ndarray:
    """Edge-replicate pad a 2-D plane to multiples of 8 (T.81 A.2.4 lets the
    encoder choose the fill; edge replication minimizes ringing)."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _dht_payload(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc << 4 | th] + bits + vals)


def _box_downsample2(plane: np.ndarray) -> np.ndarray:
    """2x2 box average (the conventional 4:2:0 chroma reduction; T.81
    leaves the filter to the encoder). Odd dims are edge-padded first."""
    h, w = plane.shape
    if h % 2 or w % 2:
        plane = np.pad(plane, ((0, h % 2), (0, w % 2)), mode="edge")
    return (
        plane[0::2, 0::2] + plane[1::2, 0::2]
        + plane[0::2, 1::2] + plane[1::2, 1::2]
    ) / 4.0


def encode_jpeg(
    img: np.ndarray,
    quality: int = 100,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W) or (H, W, 1) grayscale, or (H, W, 3) RGB, as baseline
    JFIF. Grayscale streams carry 1 component (no color transform); RGB is
    YCbCr at 4:4:4 (1x1 sampling) or 4:2:0 (Y 2x2, chroma 1x1 with 2x2
    box-averaged planes and 16x16 MCUs per T.81 A.2.3). quality=100 ->
    unit quant tables. restart_interval > 0 emits a DRI segment and
    byte-aligned RSTn markers every that many MCUs (T.81 B.2.4.4/E.1.4),
    resetting the DC predictors — the parallel-decode seam real encoders
    use, and the test vector for the decoder's restart path."""
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8, got {img.dtype}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling!r}")
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[..., 0]
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (H,W), (H,W,1) or (H,W,3), got {img.shape}")
    sub420 = subsampling == "420" and not gray
    h, w = img.shape[:2]
    qluma, qchroma = quant_tables(quality)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    # DQT (zigzag order per B.2.4.1)
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes(
        int(x) for x in qluma[_ZIGZAG]
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([1]) + bytes(
            int(x) for x in qchroma[_ZIGZAG]
        )
    # SOF0 (baseline sequential)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        # component id, sampling factors (Hi<<4 | Vi), quant table id
        samp = 0x22 if (sub420 and ci == 0) else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    for tc, th, bits, vals in (
        (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ) + (() if gray else (
        (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    )):
        payload = _dht_payload(tc, th, bits, vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        td_ta = 0x00 if ci == 0 else 0x11
        sos += bytes([ci + 1, td_ta])
    sos += bytes([0, 63, 0])  # spectral selection + approximation (baseline)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def pad_to(plane: np.ndarray, th: int, tw: int) -> np.ndarray:
        hh, ww = plane.shape
        if th > hh or tw > ww:
            plane = np.pad(plane, ((0, th - hh), (0, tw - ww)), mode="edge")
        return plane

    if gray:
        planes = [_pad_to_blocks(img.astype(np.float64))]
        quants = [qluma]
        sampling = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(img)
        if sub420:
            mcy, mcx = -(-h // 16), -(-w // 16)
            planes = [
                pad_to(ycc[..., 0], 16 * mcy, 16 * mcx),
                pad_to(_box_downsample2(ycc[..., 1]), 8 * mcy, 8 * mcx),
                pad_to(_box_downsample2(ycc[..., 2]), 8 * mcy, 8 * mcx),
            ]
            sampling = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [_pad_to_blocks(ycc[..., c]) for c in range(3)]
            sampling = [(1, 1)] * 3
        quants = [qluma, qchroma, qchroma]

    # Interleaved MCU scan (T.81 A.2.3): each MCU carries Hi x Vi blocks
    # per component in row-major order — one block each at 4:4:4, four Y
    # plus one Cb and one Cr at 4:2:0.
    writer = _BitWriter()
    preds = [0] * ncomp
    q2ds = [q.reshape(8, 8).astype(np.float64) for q in quants]

    def emit(block: np.ndarray, ci: int) -> None:
        tbl = 0 if ci == 0 else 1
        coeffs = _D @ block @ _D.T
        zz = np.round(coeffs / q2ds[ci]).astype(np.int64).ravel()[_ZIGZAG]
        diff = int(zz[0]) - preds[ci]
        preds[ci] = int(zz[0])
        cat = _magnitude_category(diff)
        code, length = _ENC_DC[tbl][cat]
        writer.write(code, length)
        if cat:
            writer.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                zc, zl = _ENC_AC[tbl][0xF0]
                writer.write(zc, zl)
                run -= 16
            size = _magnitude_category(v)
            ac, al = _ENC_AC[tbl][(run << 4) | size]
            writer.write(ac, al)
            writer.write(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if run:
            ec, el = _ENC_AC[tbl][0x00]
            writer.write(ec, el)

    y_hi, y_vi = sampling[0]
    mcuy = planes[0].shape[0] // (8 * y_vi)
    mcux = planes[0].shape[1] // (8 * y_hi)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.flush()  # byte-align (pads with 1-bits per spec)
                writer.out += bytes(
                    [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
                )
                preds[:] = [0] * ncomp  # in place — emit closes over it
            for ci in range(ncomp):
                hi, vi = sampling[ci]
                for v in range(vi):
                    for u in range(hi):
                        by = (my * vi + v) * 8
                        bx = (mx * hi + u) * 8
                        emit(planes[ci][by : by + 8, bx : bx + 8] - 128.0, ci)
            mcu += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _extend(v: int, size: int) -> int:
    """EXTEND (T.81 F.2.2.1): map size-bit magnitude to signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# --------------------------------------------------------------------------
# Fast-path decode machinery. A profile showed per-byte
# huffman decode dominating the media path (q8n: 6.1s sf0.1 / 66.6s sf1),
# with the old _BitReader paying a Python call + dict probe PER BIT. The
# decoder below keeps the identical integer coefficient semantics (same
# EXTEND, same DC prediction, same dequant ints — outputs are verified
# bit-identical against both the old path's goldens and the independent
# Annex-A.3.3 decoder in tests/jpeg_independent.py) but decodes a symbol
# with ONE list index: a canonical-code peek-LUT maps every 16-bit
# lookahead window to (code length << 8 | symbol), the standard F.2.2.3
# "decode via 16-bit table" trick. Magnitude bits are sliced from a
# precomputed per-byte 32-bit window array in one shift+mask. Entropy
# bytes are unstuffed with numpy in one vectorized pass, and the IDCT
# runs ONCE per component as a batched (n,8,8) matrix product (the q8m
# batch-matrix precedent) instead of two 8x8 matmuls per block.
# --------------------------------------------------------------------------

_LUT_CACHE: dict[bytes, list[int]] = {}


def _huffman_peek_lut(bits: list[int], vals: list[int]) -> list[int]:
    """65536-entry lookup: 16-bit MSB-first peek -> (length << 8) | symbol
    (0 = no code with this prefix). Cached by table content — real corpora
    reuse the Annex-K tables, so each builds once per process."""
    key = bytes(bits) + bytes(vals)
    lut = _LUT_CACHE.get(key)
    if lut is None:
        arr = np.zeros(65536, dtype=np.uint32)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                arr[lo : lo + (1 << (16 - length))] = (length << 8) | vals[k]
                code += 1
                k += 1
            code <<= 1
        lut = arr.tolist()  # list indexing beats numpy scalar access in loops
        _LUT_CACHE[key] = lut
    return lut


def _unstuff_entropy(data: bytes, pos: int) -> bytes:
    """Entropy-coded bytes from `pos` to the first real marker, with
    0xFF00 stuffing and RSTn marker pairs removed — one numpy pass.
    Restart boundaries need no byte positions: the MCU-count arithmetic
    (restart_interval) drives the byte-align + predictor reset, exactly
    as the per-bit reader did, and the markers themselves are gone."""
    sub = np.frombuffer(data, dtype=np.uint8)[pos:]
    ff = np.flatnonzero(sub[:-1] == 0xFF)
    if ff.size:
        nxt = sub[ff + 1]
        stuffed = nxt == 0x00
        rst = (nxt >= 0xD0) & (nxt <= 0xD7)
        hard = ff[~(stuffed | rst)]
        end = int(hard[0]) if hard.size else len(sub)
        drop = np.zeros(end, dtype=bool)
        sp = ff[stuffed]
        sp = sp[sp + 1 < end]
        drop[sp + 1] = True
        rp = ff[rst]
        rp = rp[rp + 1 < end]
        drop[rp] = True
        drop[rp + 1] = True
        return sub[:end][~drop].tobytes()
    return sub.tobytes()


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JFIF stream to (H, W, 3) uint8.

    Grayscale streams are replicated across 3 channels (matching the
    (H, W, 3) contract of decode_image). Supports 8-bit baseline
    (SOF0), 1 or 3 components, sampling factors 1-2 per axis (so 4:4:4,
    4:2:0, 4:2:2 and 4:4:0 all decode; subsampled planes upsample by
    sample replication); progressive streams raise ValueError. Reference
    analog: tf.image.decode_jpeg (make_tf_record.py:18-19)."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict[tuple[int, int], int]] = {}
    huff_ac: dict[int, dict[tuple[int, int], int]] = {}
    h = w = None
    comps: list[tuple[int, int]] = []  # (component id, quant table id)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc table, ac table)
    restart_interval = 0

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT: one or more tables per segment
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported (baseline)")
                zz = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8).astype(
                    np.int64
                )
                qtables[tq] = zz[_UNZIGZAG]
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            precision = payload[0]
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported component count {ncomp}")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        "unsupported sampling factors "
                        f"0x{samp:02X} (this codec handles 1-2 per axis)"
                    )
                comps.append((cid, tq, hi, vi))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding process (SOF marker 0x{marker:02X}); "
                "only baseline sequential (SOF0) is implemented"
            )
        elif marker == 0xC4:  # DHT: one or more tables per segment
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nvals])
                (huff_dc if tc == 0 else huff_ac)[th] = _huffman_peek_lut(
                    bits, vals
                )
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", payload)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = payload[0]
            scan = []
            for si in range(ns):
                cs, tdta = payload[1 + 2 * si : 3 + 2 * si]
                idx = next(i for i, c in enumerate(comps) if c[0] == cs)
                scan.append((idx, tdta >> 4, tdta & 0x0F))
            break
        # APPn / COM / others: skipped via seglen
    else:
        raise ValueError("JPEG without SOS marker")

    if h is None or not scan:
        raise ValueError("JPEG missing SOF0 or SOS")
    ncomp = len(comps)
    if len(scan) == 1:
        # single-component scans are never interleaved (T.81 A.2.2):
        # the data unit is one block regardless of declared sampling
        cid, tq, _, _ = comps[scan[0][0]]
        comps[scan[0][0]] = (cid, tq, 1, 1)
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcuy, mcux = -(-h // (8 * vmax)), -(-w // (8 * hmax))
    nmcu = mcuy * mcux
    planes = [
        np.zeros((mcuy * 8 * c[3], mcux * 8 * c[2]), dtype=np.float64)
        for c in comps
    ]

    # ---- entropy decode (the hot path — see the fast-path note above).
    # One numpy unstuffing pass, then a pure-smallint Python loop: per
    # symbol one 16-bit peek + one list index; per magnitude one
    # shift+mask from a precomputed 32-bit per-byte window array. The
    # coefficients land in flat (pos, val) lists and are scattered into
    # (nblocks, 64) zigzag arrays afterwards; dequant + IDCT then run
    # batched per component.
    buf = _unstuff_entropy(data, pos)
    nbits_avail = 8 * len(buf)
    bb = np.frombuffer(buf, dtype=np.uint8).astype(np.uint32)
    # Zero-pad to the worst-case single-block overrun: the
    # truncation check below runs once per BLOCK, and one corrupt block
    # can legally consume 64 coefficient entries x (16-bit code + 16-bit
    # magnitude) = 256 bytes past the end before the check fires — with
    # huffman tables whose all-zero peek decodes (possible off Annex K),
    # a 68-byte pad let `words[bitoff >> 3]` IndexError instead of
    # raising the intended ValueError. 264 = 256 + 8 window-read slack.
    bb = np.concatenate([bb, np.zeros(264, dtype=np.uint32)])
    words = ((bb[:-3] << 24) | (bb[1:-2] << 16) | (bb[2:-1] << 8) | bb[3:]).tolist()

    mask = [(1 << s) - 1 for s in range(17)]
    half = [0] + [1 << (s - 1) for s in range(1, 17)]
    ext1 = [0] + [(1 << s) - 1 for s in range(1, 17)]
    # (comp idx, dc lut, ac lut, sub-blocks per MCU, pos list, val list)
    plan = [
        (idx, huff_dc[td], huff_ac[ta], comps[idx][2] * comps[idx][3], [], [])
        for idx, td, ta in scan
    ]
    preds = [0] * ncomp
    blkctr = [0] * ncomp
    bitoff = 0
    for mcu in range(nmcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            # restart boundary: byte-align and reset DC predictors (the
            # RSTn marker bytes were removed during unstuffing)
            bitoff = (bitoff + 7) & ~7
            preds = [0] * ncomp
        for idx, lutdc, lutac, nsub, poss, valss in plan:
            for _ in range(nsub):
                e = lutdc[(words[bitoff >> 3] >> (16 - (bitoff & 7))) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid huffman code in JPEG stream")
                bitoff += e >> 8
                size = e & 0xFF
                if size:
                    v = (
                        words[bitoff >> 3] >> (32 - size - (bitoff & 7))
                    ) & mask[size]
                    bitoff += size
                    diff = v if v >= half[size] else v - ext1[size]
                else:
                    diff = 0
                pred = preds[idx] + diff
                preds[idx] = pred
                base = blkctr[idx] << 6
                blkctr[idx] += 1
                poss.append(base)
                valss.append(pred)
                k = 1
                while k < 64:
                    e = lutac[
                        (words[bitoff >> 3] >> (16 - (bitoff & 7))) & 0xFFFF
                    ]
                    if e == 0:
                        raise ValueError("invalid huffman code in JPEG stream")
                    bitoff += e >> 8
                    rs = e & 0xFF
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    size = rs & 0x0F
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC coefficient index out of range")
                    v = (
                        words[bitoff >> 3] >> (32 - size - (bitoff & 7))
                    ) & mask[size]
                    bitoff += size
                    poss.append(base + k)
                    valss.append(v if v >= half[size] else v - ext1[size])
                    k += 1
                if bitoff > nbits_avail:
                    raise ValueError("JPEG entropy stream truncated")

    # ---- dequantize + batched IDCT + scatter, once per scan component
    for idx, _lutdc, _lutac, nsub, poss, valss in plan:
        nblk = blkctr[idx]
        czz = np.zeros(nblk * 64, dtype=np.int64)
        if poss:
            czz[np.asarray(poss, dtype=np.int64)] = np.asarray(
                valss, dtype=np.int64
            )
        czz = czz.reshape(nblk, 64)
        quant = qtables[comps[idx][1]]
        cnat = (czz[:, _UNZIGZAG] * quant).reshape(nblk, 8, 8).astype(np.float64)
        blocks = _D.T @ cnat @ _D + 128.0
        hi, vi = comps[idx][2], comps[idx][3]
        bidx = np.arange(nblk)
        m, s = bidx // nsub, bidx % nsub
        by = (m // mcux) * vi + s // hi
        bx = (m % mcux) * hi + s % hi
        p = planes[idx]
        p.reshape(p.shape[0] // 8, 8, p.shape[1] // 8, 8).transpose(0, 2, 1, 3)[
            by, bx
        ] = blocks

    # Subsampled components upsample by sample replication (T.81 leaves
    # the reconstruction filter to the decoder; replication keeps
    # chroma-constant roundtrips exact), then crop the MCU padding.
    cropped = []
    for ci, (_, _, hi, vi) in enumerate(comps):
        p = planes[ci]
        if vi != vmax or hi != hmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        cropped.append(p[:h, :w])
    if ncomp == 1:
        gray = np.clip(np.round(cropped[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    ycc = np.stack(cropped, axis=-1)
    return _ycbcr_to_rgb(ycc)
