"""Image/media codecs for the binary-column pipeline.

The reference decodes JPEG/PNG via TF graph ops (reference:
make_tf_record.py:18-19, data_queue.py:29, tutorial nb cell 6). The
engine carries three real, fully-tested codecs in pure stdlib/numpy:

- PPM (P6): trivial uncompressed raster, pure numpy.
- PNG (8-bit truecolor): pure stdlib — zlib inflate/deflate plus all five
  scanline filters (None/Sub/Up/Average/Paeth) with per-chunk CRC checks.
- Baseline JPEG (functions/jpegcodec.py): sequential DCT with the Annex-K
  huffman/quant tables, grayscale and 4:4:4 / 4:2:0 color.

`decode_image` dispatches on the format name to exactly these decoders,
so every executor accepts the same payloads and raises ValueError on the
same variants (grayscale/palette/16-bit/interlaced PNG, P5 or 16-bit
PPM, progressive or 4-component JPEG). The Spark-side plumbing (binary
column in, decode inside an Arrow-batched pandas UDF, ndarray out) is
identical for every format.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg


# --------------------------------------------------------------------------
# PPM (P6): the engine's uncompressed raster codec.
# Layout: b"P6\n<width> <height>\n255\n" + height rows of width*3 bytes.
# --------------------------------------------------------------------------
def encode_ppm(img: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6)."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) array, got shape {img.shape}")
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8, got {img.dtype}")
    h, w = img.shape[:2]
    header = f"P6\n{w} {h}\n255\n".encode("ascii")
    return header + img.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Decode binary PPM (P6) bytes to an (H, W, 3) uint8 array."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header is three whitespace-separated tokens after the magic
    parts = data.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    dims = parts[1].split()
    w, h = int(dims[0]), int(dims[1])
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    raw = parts[3]
    n = h * w * 3
    if len(raw) < n:
        raise ValueError(f"PPM payload too short: {len(raw)} < {n}")
    return np.frombuffer(raw[:n], dtype=np.uint8).reshape(h, w, 3)


def ppm_n_bytes(height: int, width: int) -> int:
    """Exact encoded size of a P6 payload — header + raw pixels. Kept as a
    plain arithmetic function so the DuckDB oracle can compute the same
    value in SQL (q80)."""
    # b"P6\n" (3) + str(w) + b" " (1) + str(h) + b"\n" (1) + b"255\n" (4)
    return 9 + len(str(width)) + len(str(height)) + 3 * height * width


# --------------------------------------------------------------------------
# PNG (8-bit truecolor, non-interlaced): pure-stdlib codec.
# Spec: RFC 2083 — signature + IHDR/IDAT/IEND chunks; each scanline is a
# filter-type byte + w*3 filtered bytes; IDAT is the zlib stream of all
# scanlines. The encoder cycles the filter type per row (r % 5) so every
# decoder branch is exercised by the synthetic corpus.
# --------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_BPP = 3  # bytes per pixel (8-bit RGB)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized (a=left, b=up, c=upper-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(img: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as 8-bit truecolor PNG; row r uses
    filter type r % 5 so all five filters appear in every image."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) array, got shape {img.shape}")
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8, got {img.dtype}")
    h, w = img.shape[:2]
    flat = img.astype(np.int32).reshape(h, w * _BPP)
    # whole-image vectorization (byte-identical to the old per-row
    # loop — PNG filters reference the RAW previous scanline, so left/
    # up/upper-left are plain array shifts and all five filters apply to
    # row subsets in five fancy-indexed ops; the old shape paid ~10
    # numpy-dispatch round-trips per 8-32 px row, which dominated the
    # q8o corpus transcode).
    left = np.zeros_like(flat)
    left[:, _BPP:] = flat[:, :-_BPP]
    up = np.zeros_like(flat)
    up[1:] = flat[:-1]
    ul = np.zeros_like(flat)
    ul[1:, _BPP:] = flat[:-1, :-_BPP]
    fidx = np.arange(h) % 5
    filt = flat.copy()  # filter 0 rows stay raw
    m = fidx == 1
    filt[m] = flat[m] - left[m]
    m = fidx == 2
    filt[m] = flat[m] - up[m]
    m = fidx == 3
    filt[m] = flat[m] - ((left[m] + up[m]) >> 1)
    m = fidx == 4
    filt[m] = flat[m] - _paeth(left[m], up[m], ul[m])
    out = np.empty((h, 1 + w * _BPP), dtype=np.uint8)
    out[:, 0] = fidx
    out[:, 1:] = (filt & 0xFF).astype(np.uint8)
    out = out.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit truecolor non-interlaced PNG to (H, W, 3) uint8.

    Pure stdlib: chunk walk with CRC verification, zlib inflate, and the
    five scanline unfilters. Reference analog: tf.image.decode_png
    (tutorial nb cell 6; make_tf_record.py:18-19 for the jpeg twin)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG variant: need 8-bit truecolor, "
                    f"got depth={depth} color={color} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * _BPP
    if len(raw) != h * (1 + stride):
        raise ValueError(f"PNG scanline payload {len(raw)} != {h * (1 + stride)}")
    # parse every scanline up front (one
    # frombuffer + reshape instead of per-row slicing) and reconstruct
    # each filter class with the cheapest shape its data dependency
    # allows: filter 0/1 rows never read the previous row (batch-
    # vectorized across ALL such rows at once — per-lane cumsum for
    # filter 1), filter 2 rows are one whole-row numpy add, and only
    # the genuinely sequential filter 3/4 rows keep the small-int
    # Python scan (left-neighbor dependency). The python-int mirror of a
    # row is built ONLY when the next row is filter 3/4 — the old loop
    # paid a tolist() per row regardless of need.
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes = rows[:, 0]
    if ftypes.max(initial=0) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"unknown PNG filter type {bad}")
    img = np.zeros((h, stride), dtype=np.int32)
    m0 = ftypes == 0
    if m0.any():
        img[m0] = rows[m0, 1:]
    m1 = ftypes == 1
    if m1.any():
        b1 = rows[m1, 1:].astype(np.int32)
        for lane in range(_BPP):
            b1[:, lane::_BPP] = np.cumsum(b1[:, lane::_BPP], axis=1) & 0xFF
        img[m1] = b1
    need_list = np.zeros(h, dtype=bool)  # rows whose NEXT row is f3/f4
    need_list[:-1] = ftypes[1:] >= 3
    prev = np.zeros(stride, dtype=np.int32)
    prev_l: list[int] = [0] * stride
    for r in range(h):
        f = ftypes[r]
        if f == 2:
            img[r] = cur = (rows[r, 1:].astype(np.int32) + prev) & 0xFF
        elif f >= 3:
            # left-and-up dependent: sequential per byte. Pure small-int
            # Python (a profile showed per-byte numpy-scalar _paeth
            # calls dominating the media path); the Paeth distances
            # reduce algebraically to |b-c|, |a-c|, |a+b-2c|.
            lb = raw[r * (1 + stride) + 1 : r * (1 + stride) + 1 + stride]
            # prev_l is valid here: need_list[r-1] is True exactly when
            # this row is f3/f4, so the previous iteration refreshed it
            # (or r == 0 and it is the all-zero virtual row).
            pl = prev_l
            row: list[int] = [0] * stride
            if f == 3:
                for x in range(stride):
                    a = row[x - _BPP] if x >= _BPP else 0
                    row[x] = (lb[x] + ((a + pl[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = row[x - _BPP] if x >= _BPP else 0
                    b = pl[x]
                    c = pl[x - _BPP] if x >= _BPP else 0
                    pa = b - c
                    if pa < 0:
                        pa = -pa
                    pb = a - c
                    if pb < 0:
                        pb = -pb
                    pc = a + b - 2 * c
                    if pc < 0:
                        pc = -pc
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[x] = (lb[x] + pred) & 0xFF
            img[r] = cur = np.asarray(row, dtype=np.int32)
            if need_list[r]:
                prev_l = row
            prev = cur
            continue
        else:  # f 0/1 rows were batch-reconstructed above
            cur = img[r]
        prev = cur
        if need_list[r]:
            prev_l = cur.tolist()
    return img.astype(np.uint8).reshape(h, w, _BPP)


# --------------------------------------------------------------------------
# Format dispatch: one reference decoder per format.
# --------------------------------------------------------------------------
_DECODERS = {"ppm": decode_ppm, "png": decode_png, "jpeg": decode_jpeg}


def decode_image(data: bytes, image_format: str) -> np.ndarray:
    """Decode an encoded image payload to (H, W, 3) uint8.

    Reference analog: tf.image.decode_jpeg / decode_png
    (make_tf_record.py:18-19, tutorial nb cell 6). "jpg" is an alias of
    "jpeg"; any other format name raises ValueError, as does any payload
    outside the format's accepted variants."""
    fmt = image_format.lower()
    dec = _DECODERS.get("jpeg" if fmt == "jpg" else fmt)
    if dec is None:
        raise ValueError(f"unknown image format {fmt!r}")
    return dec(data)
