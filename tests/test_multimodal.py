"""Unit + invariant tests for the binary/multimodal pipeline (SURVEY.md §5:
the invariants the reference only ever eyeballed, automated)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.imagecodec import (
    decode_image,
    decode_ppm,
    encode_ppm,
    ppm_n_bytes,
)
from tf_datapipeline_spark.functions.imageops import (
    central_crop,
    preprocess_for_eval,
    preprocess_for_train,
    resize_bilinear,
    resize_nearest,
    rng_for_row,
)
from tf_datapipeline_spark.sources.etl import (
    read_records,
    scratch_dir,
    write_sharded_records,
)
from tf_datapipeline_spark.sources.images import (
    SYNTHETIC_DIMS_SQL,
    SYNTHETIC_JPEG_DIMS_SQL,
    scan_image_dir,
    synthetic_corpus,
    synthetic_dims,
    synthetic_jpeg_dims,
    synthetic_pixels,
)


# --------------------------------------------------------------------------
# codec
# --------------------------------------------------------------------------
@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31),
)
def test_ppm_roundtrip(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    data = encode_ppm(img)
    assert len(data) == ppm_n_bytes(h, w)
    out = decode_ppm(data)
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_ppm(b"nope")


# --------------------------------------------------------------------------
# baseline JPEG codec (functions/jpegcodec.py — reference S3,
# make_tf_record.py:18-19)
# --------------------------------------------------------------------------
def test_jpeg_flat_block_roundtrip_is_bit_exact():
    """Flat 8x8 blocks -> DC-only DCT -> quality-100 roundtrip loses
    nothing. This is the property the q8d oracle relies on."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
    from tf_datapipeline_spark.sources.images import synthetic_jpeg_pixels

    for doc_id in (0, 1, 7, 123, 4096):
        gray = synthetic_jpeg_pixels(doc_id)
        out = decode_jpeg(encode_jpeg(gray, quality=100))
        assert out.shape == (*gray.shape, 3)
        assert np.array_equal(out[:, :, 0], gray)
        assert np.array_equal(out[:, :, 0], out[:, :, 1])
        assert np.array_equal(out[:, :, 1], out[:, :, 2])


def test_jpeg_truncated_stream_raises_valueerror():
    """Malformed input contract: cutting the entropy stream
    at ANY byte must raise ValueError — never IndexError. The decoder
    zero-pads to the worst-case single-block overrun (~260 bytes, one
    block of max-width codes past the end) so the per-block truncation
    check always fires before the window array runs out, even with
    huffman tables whose all-zero peek decodes."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quality=75)
    # cut inside the entropy segment (past all headers, before EOI)
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    for cut in range(sos + 20, len(enc) - 2, 7):
        with pytest.raises(ValueError):
            decode_jpeg(enc[:cut])


@settings(max_examples=15, deadline=None)
@given(h=st.integers(1, 40), w=st.integers(1, 40), seed=st.integers(0, 2**31))
def test_jpeg_gray_roundtrip_tolerance(h, w, seed):
    """Arbitrary grayscale at quality=100: only float-DCT rounding remains
    (|err| <= 2), and non-multiple-of-8 dims crop back exactly."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=100))
    assert out.shape == (h, w, 3)
    assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 2


@settings(max_examples=10, deadline=None)
@given(h=st.integers(1, 32), w=st.integers(1, 32), seed=st.integers(0, 2**31))
def test_jpeg_rgb_roundtrip_tolerance(h, w, seed):
    """4:4:4 color at quality=100: YCbCr transform + DCT rounding only."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=100))
    assert out.shape == (h, w, 3)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_lower_quality_decodes_with_exact_dims():
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    img = np.random.default_rng(3).integers(0, 256, size=(33, 22, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=50))
    assert out.shape == (33, 22, 3)
    assert abs(float(out.mean()) - float(img.mean())) < 8.0


def test_jpeg_engine_matches_independent_decoder():
    """Decode non-trivial content (gradient AND noise,
    4:4:4 AND 4:2:0, three quality levels) with the engine codec and a
    SEPARATELY-derived reference decoder (tests/jpeg_independent.py: own
    marker parse, own T.81 F.2.2.3 canonical-huffman walk, own stuffed
    bit reader, diagonal-walk zigzag, direct O(N^4) Annex A.3.3 IDCT —
    no shared code) and pin max-abs-diff <= 1 (IDCT rounding tolerance;
    measured 0 on all 12 fixtures)."""
    from tests.jpeg_independent import decode_jpeg_reference
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:37, 0:29]
    grad = np.stack(
        [(yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256], axis=-1
    ).astype(np.uint8)
    noise = rng.integers(0, 256, (24, 31, 3), dtype=np.uint8)
    for img in (grad, noise):
        for sub in ("444", "420"):
            for q in (100, 75, 50):
                data = encode_jpeg(img, quality=q, subsampling=sub)
                a = decode_jpeg(data).astype(int)
                b = decode_jpeg_reference(data).astype(int)
                assert a.shape == b.shape == img.shape
                assert np.abs(a - b).max() <= 1, (sub, q)
    gray = rng.integers(0, 256, (19, 22), dtype=np.uint8)
    data = encode_jpeg(gray, quality=90)
    assert np.abs(
        decode_jpeg(data).astype(int)
        - decode_jpeg_reference(data).astype(int)
    ).max() <= 1


def test_jpeg_restart_markers_roundtrip_and_match_independent():
    """DRI/RSTn path (exercised by the fast entropy decoder's
    unstuffing + MCU-count restart arithmetic): a stream encoded with
    restart markers must decode to EXACTLY the pixels of the same image
    encoded without them (identical quantized coefficients — only the
    entropy framing differs), and must agree with the independently
    derived reference decoder, for gray, 4:4:4 and 4:2:0, at interval 1
    (every MCU restarts, all 8 RSTn values cycle) and 3 (partial-byte
    alignment padding before most markers)."""
    from tests.jpeg_independent import decode_jpeg_reference
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(29)
    gray = rng.integers(0, 256, (35, 41), dtype=np.uint8)
    rgb = rng.integers(0, 256, (26, 50, 3), dtype=np.uint8)
    cases = [
        (gray, {"quality": 80}),
        (rgb, {"quality": 75, "subsampling": "444"}),
        (rgb, {"quality": 75, "subsampling": "420"}),
    ]
    for img, kw in cases:
        plain = decode_jpeg(encode_jpeg(img, **kw))
        for ri in (1, 3):
            data = encode_jpeg(img, restart_interval=ri, **kw)
            assert b"\xff\xdd" in data  # DRI segment present
            got = decode_jpeg(data)
            assert np.array_equal(got, plain), (kw, ri)
            ref = decode_jpeg_reference(data)
            assert np.abs(got.astype(int) - ref.astype(int)).max() <= 1, (kw, ri)


def test_jpeg_420_chroma_constant_roundtrip_is_exact():
    """r=g=b content has constant chroma planes (Cb=Cr=128), so the 2x2
    box subsample and replication upsample are both lossless and the
    4:2:0 quality-100 roundtrip must reproduce every pixel exactly —
    isolates the subsampling path from DCT loss."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:37, 0:29]
    g = np.repeat(
        ((yy * 3 + xx * 5) % 256)[:, :, None].astype(np.uint8), 3, axis=2
    )
    out = decode_jpeg(encode_jpeg(g, quality=100, subsampling="420"))
    assert np.abs(out.astype(int) - g.astype(int)).max() <= 1


@settings(max_examples=10, deadline=None)
@given(h=st.integers(1, 33), w=st.integers(1, 33), seed=st.integers(0, 2**31))
def test_jpeg_420_roundtrip_dims_and_smooth_tolerance(h, w, seed):
    """4:2:0 at any dims (incl. non-multiples of 16) crops back exactly.
    Pixel tolerance is asserted on SMOOTH content only: on noise the 2x2
    chroma box filter legitimately loses tens of levels (and RGB clamping
    then couples that into recomputed luma), but on a low-frequency
    gradient the subsample+replicate error stays within a few levels."""
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    noise = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(noise, quality=100, subsampling="420"))
    assert out.shape == (h, w, 3)

    a, b, c = (int(x) for x in rng.integers(1, 4, 3))
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.stack(
        [
            np.clip(60 + a * yy + b * xx, 0, 255),
            np.clip(90 + b * yy, 0, 255),
            np.clip(120 + c * xx, 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(smooth, quality=100, subsampling="420"))
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 8


def test_jpeg_rejects_non_baseline_and_garbage():
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    # flip SOF0 -> SOF2 (progressive): decoder must refuse, not mis-decode
    data = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    idx = bytes(data).find(b"\xff\xc0")
    data[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(data))


def test_decode_image_routes_jpeg_to_builtin_codec():
    from tf_datapipeline_spark.functions.jpegcodec import encode_jpeg

    img = np.full((16, 16), 77, dtype=np.uint8)
    out = decode_image(encode_jpeg(img, quality=100), "jpeg")
    assert (out == 77).all() and out.shape == (16, 16, 3)


def _png_with_ihdr(depth: int, color: int, interlace: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 6, 6, depth, color, 0, 0, interlace)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    return b"\x89PNG\r\n\x1a\n" + chunk


def _jpeg_with_sof(marker: int, ncomp: int) -> bytes:
    """A 6x6 baseline JFIF with its SOF0 marker byte and component count
    rewritten — header-identical otherwise."""
    from tf_datapipeline_spark.functions.jpegcodec import encode_jpeg

    data = bytearray(encode_jpeg(_img(6, 6, seed=99)))
    sof0_at = bytes(data).find(b"\xff\xc0")
    assert sof0_at > 0
    data[sof0_at + 1] = marker
    data[sof0_at + 9] = ncomp  # ncomp byte inside the SOF segment
    return bytes(data)


@pytest.mark.parametrize(
    "fmt, make_payload",
    [
        ("png", lambda: _png_with_ihdr(8, 0, 0)),
        ("png", lambda: _png_with_ihdr(8, 3, 0)),
        ("png", lambda: _png_with_ihdr(16, 2, 0)),
        ("png", lambda: _png_with_ihdr(8, 2, 1)),
        ("ppm", lambda: b"P5\n6 6\n255\n" + bytes(36)),
        ("ppm", lambda: b"P6\n6 6\n65535\n" + bytes(6 * 6 * 6)),
        ("jpeg", lambda: _jpeg_with_sof(0xC2, 3)),
        ("jpeg", lambda: _jpeg_with_sof(0xC0, 4)),
    ],
    ids=[
        "png-grayscale", "png-palette", "png-16bit", "png-interlaced",
        "ppm-p5", "ppm-16bit", "jpeg-progressive", "jpeg-4component",
    ],
)
def test_decode_image_rejects_out_of_set_variants(fmt, make_payload):
    """The accept set is the reference decoders' and nothing wider: every
    executor raises ValueError on exactly these variants."""
    with pytest.raises(ValueError):
        decode_image(make_payload(), fmt)


def test_decode_image_jpg_alias_and_unknown_format():
    from tf_datapipeline_spark.functions.jpegcodec import encode_jpeg

    payload = encode_jpeg(_img(16, 16, seed=3))
    assert np.array_equal(
        decode_image(payload, "jpg"), decode_image(payload, "jpeg")
    )
    with pytest.raises(ValueError, match="unknown image format"):
        decode_image(b"x", "webp")


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip(h, w, seed):
    """PNG encode cycles all 5 filter types across rows; decode must
    reconstruct every byte."""
    from tf_datapipeline_spark.functions.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


def test_png_crc_and_garbage_rejected():
    from tf_datapipeline_spark.functions.imagecodec import decode_png, encode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png")
    data = bytearray(encode_png(synthetic_pixels(7)))
    data[40] ^= 0xFF  # corrupt inside IDAT -> CRC must catch it
    with pytest.raises(ValueError):
        decode_png(bytes(data))


# --------------------------------------------------------------------------
# image kernels (reference invariants: shape / dtype / range / determinism)
# --------------------------------------------------------------------------
def _img(h=24, w=30, seed=0):
    return np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_resize_constant_image_is_identity_value():
    img = np.full((10, 7, 3), 113, dtype=np.uint8)
    bl = resize_bilinear(img, 5, 5)
    nn = resize_nearest(img, 5, 5)
    assert np.allclose(bl, 113.0)
    assert (nn == 113).all() and nn.shape == (5, 5, 3)


def test_bilinear_matches_nearest_on_integer_upscale_grid():
    img = _img(8, 8)
    out = resize_bilinear(img, 16, 16)
    assert out.shape == (16, 16, 3)
    assert out.min() >= 0.0 and out.max() <= 255.0


def test_central_crop_fraction():
    img = _img(32, 32)
    out = central_crop(img, 0.875)
    assert out.shape == (28, 28, 3)  # floor(32*0.0625)=2 off each side


def test_train_augment_invariants():
    img = _img()
    out, meta = preprocess_for_train(img, rng_for_row(42, 7), 32, 32)
    assert out.shape == (32, 32, 3)
    assert out.dtype == np.float32
    assert out.min() >= -1.0 - 1e-6 and out.max() <= 1.0 + 1e-6
    assert 1 <= meta["crop_h"] <= 24 and 1 <= meta["crop_w"] <= 30


def test_train_augment_seed_determinism_and_variation():
    img = _img()
    a, _ = preprocess_for_train(img, rng_for_row(42, 7), 32, 32)
    b, _ = preprocess_for_train(img, rng_for_row(42, 7), 32, 32)
    c, _ = preprocess_for_train(img, rng_for_row(42, 8), 32, 32)
    assert np.array_equal(a, b)  # same (seed, row) -> identical (retry-safe)
    assert not np.array_equal(a, c)  # different row -> different augment


def test_eval_preprocess_deterministic_range01():
    img = _img()
    a = preprocess_for_eval(img, 32, 32)
    b = preprocess_for_eval(img, 32, 32)
    assert np.array_equal(a, b)
    assert a.shape == (32, 32, 3)
    assert a.min() >= 0.0 and a.max() <= 1.0


# --------------------------------------------------------------------------
# sources: binaryFile dir scan (real directory) + synthetic corpus
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "dims_sql, dims",
    [
        (SYNTHETIC_DIMS_SQL, synthetic_dims),
        (SYNTHETIC_JPEG_DIMS_SQL, synthetic_jpeg_dims),
    ],
)
def test_synthetic_dims_sql_matches_python(dims_sql, dims):
    """The SQL spelling of the synthetic image dims, which the oracles
    and Spark SQL read, gives the Python generator's (height, width)."""
    import duckdb

    h, w = dims_sql
    got = duckdb.sql(
        f"SELECT doc_id, {h}, {w} FROM range(1000) r(doc_id) ORDER BY doc_id"
    ).fetchall()
    assert got == [(d, *dims(d)) for d in range(1000)]


def test_scan_image_dir_binaryfile(spark):
    root = scratch_dir("corpus_dir/ignored")
    root = root.rsplit("/", 1)[0]
    import os

    for cls in ("daisy", "tulip"):
        os.makedirs(os.path.join(root, cls), exist_ok=True)
        for i in range(3):
            img = np.full((4 + i, 5, 3), i, dtype=np.uint8)
            with open(os.path.join(root, cls, f"{i}.ppm"), "wb") as f:
                f.write(encode_ppm(img))
    df = scan_image_dir(spark, root)
    rows = df.collect()
    assert len(rows) == 6
    assert {r.class_name for r in rows} == {"daisy", "tulip"}
    one = next(r for r in rows if r.class_name == "daisy" and r.path.endswith("2.ppm"))
    assert decode_ppm(bytes(one.content)).shape == (6, 5, 3)


def test_synthetic_corpus_payloads_decode(spark):
    df = synthetic_corpus(spark, SF_SMOKE).limit(20)
    for r in df.collect():
        arr = decode_ppm(bytes(r.content))
        assert arr.shape == (r.height, r.width, 3)
        doc_id = int(r.path.rsplit("/", 1)[1].split(".")[0])
        assert np.array_equal(arr, synthetic_pixels(doc_id))
        assert r.length == len(bytes(r.content))


# --------------------------------------------------------------------------
# ETL writer round-trip (reference EP4 invariants: shard count, split
# sizes, label range, payload integrity)
# --------------------------------------------------------------------------
def test_etl_sharded_write_roundtrip(spark):
    corpus = synthetic_corpus(spark, SF_SMOKE)
    n_corpus = corpus.count()
    total_payload = corpus.selectExpr("sum(length(content)) s").collect()[0].s
    n_classes = corpus.select("class_name").distinct().count()

    out = scratch_dir("etl_test")
    write_sharded_records(corpus, out)
    rec = read_records(spark, out)

    assert rec.count() == n_corpus
    by_split = {r.split: r for r in rec.groupBy("split").count().collect()}
    assert set(by_split) == {"train", "validation"}
    # ~10% validation via permutation-key modulo
    frac = by_split["validation"]["count"] / n_corpus
    assert 0.04 < frac < 0.2
    shards = {r.shard for r in rec.select("shard").distinct().collect()}
    assert shards == {0, 1, 2, 3, 4}
    labels = rec.selectExpr("min(label) mn", "max(label) mx").collect()[0]
    assert labels.mn == 0 and labels.mx == n_classes - 1
    assert rec.selectExpr("sum(length(image_encoded)) s").collect()[0].s == total_payload
    # re-decodability straight out of the record table
    sample = rec.limit(3).collect()
    for r in sample:
        arr = decode_ppm(bytes(r.image_encoded))
        assert arr.shape == (r.height, r.width, 3)


def test_transcode_audit_is_lossless(spark):
    """q8o: every payload decodes, transcodes, and round-trips exactly."""
    from tf_datapipeline_spark.operators.multimodal import q8o_transcode_audit

    row = q8o_transcode_audit(spark, SF_SMOKE).collect()[0]
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert row.n_docs == n_docs
    assert row.n_lossless == n_docs
    assert row.total_pixels > 0


def test_phash_matches_independent_triple_loop_dct(spark):
    """q8p: per-doc hashes equal an independent recomputation that goes
    straight from the synthetic-pixel formula through a naive
    triple-loop integer DCT (no matrix multiply, no decode path) — so
    codec, resize kernel, GEMM staging and bit packing are all pinned
    against a second implementation. Also: the DC bit is always set
    (the all-positive gray plane dominates every AC coefficient) and
    n_bits <= 32 (at most 31 of 63 ACs exceed their low median)."""
    from tf_datapipeline_spark.operators.multimodal import (
        _PH,
        _PHASH_BASIS,
        q8p_image_phash,
    )
    from tf_datapipeline_spark.sources.images import synthetic_pixels

    rows = {r.doc_id: r for r in q8p_image_phash(spark, SF_SMOKE).collect()}
    assert rows
    for r in rows.values():
        assert r.hash_lo % 2 == 1, r  # DC bit
        assert 1 <= r.n_bits <= 32, r

    for did in sorted(rows)[:8]:
        px = synthetic_pixels(did).astype(int)
        h, w = px.shape[:2]
        gray = [
            [
                sum(
                    int(
                        px[
                            min(int((i + 0.5) * (h / _PH)), h - 1),
                            min(int((j + 0.5) * (w / _PH)), w - 1),
                            c,
                        ]
                    )
                    for c in range(3)
                )
                for j in range(_PH)
            ]
            for i in range(_PH)
        ]
        coeffs = []
        for u in range(8):
            for v in range(8):
                acc = 0
                for i in range(_PH):
                    for j in range(_PH):
                        acc += (
                            _PHASH_BASIS[u][i]
                            * gray[i][j]
                            * _PHASH_BASIS[v][j]
                        )
                coeffs.append(acc)
        med = sorted(coeffs[1:])[31]
        bits = [c > med for c in coeffs]
        lo = sum(1 << k for k in range(32) if bits[k])
        hi = sum(1 << (k - 32) for k in range(32, 64) if bits[k])
        r = rows[did]
        assert (r.hash_lo, r.hash_hi, r.n_bits) == (lo, hi, sum(bits)), did


# the package function that calls map_rows or map_decoded -> the registered
# query that runs it, where the two names differ (processed_records is run
# directly: no query feeds it)
_ROW_MAP_RUNNERS = {
    "map_decoded": "q81_pixel_stats",
    "_decoded_dims_stats": "q8b_png_decode",
    "_train_augment_stats": "q82_augment_train",
    "_eval_stats": "q83_augment_eval",
    "_ahash_table": "q8f_image_ahash",
    "synthetic_corpus": "q80_image_metadata",
    "read_tfrecords": "q8h_tfrecord_roundtrip",
    "processed_records": None,
}


def test_row_maps_independent_of_arrow_batches(spark):
    """Every caller of functions/rows.map_rows and map_decoded returns the
    same rows (order-insensitive) whether Spark cuts its input into Arrow
    batches of 7 records or of 2048: a row function sees one row, so no
    result may depend on where a batch ends. The callers are found in the
    source: a new query is run too, and a new helper fails here until
    _ROW_MAP_RUNNERS names a query that runs it."""
    import ast
    import pathlib

    from tests.oracle_harness import _norm_rows
    from tests.test_feed import _records
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.operators.feed import processed_records

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    callers = {
        top.name
        for py in pkg.rglob("*.py")
        for top in ast.parse(py.read_text()).body
        if isinstance(top, ast.FunctionDef)
        and any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id in ("map_rows", "map_decoded")
            for n in ast.walk(top)
        )
    }
    qs = registry.queries()
    runners = {_ROW_MAP_RUNNERS.get(c, c) for c in callers}
    assert not _ROW_MAP_RUNNERS.keys() - callers, "stale _ROW_MAP_RUNNERS entries"
    assert runners - {None} <= qs.keys(), sorted(runners - {None} - qs.keys())
    builds = {n: (lambda n=n: qs[n](spark, SF_SMOKE)) for n in runners - {None}}
    records = _records(spark)
    builds["processed_records"] = lambda: processed_records(records, 8, 8, seed=3)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    results = {}
    try:
        for batch in ("7", "2048"):
            spark.conf.set(key, batch)
            for name, build in sorted(builds.items()):
                df = build()
                rows = _norm_rows([tuple(r) for r in df.collect()], df.columns)
                assert rows, (name, batch)
                results.setdefault(name, []).append(rows)
    finally:
        spark.conf.set(key, saved)
    differ = sorted(name for name, (small, large) in results.items() if small != large)
    assert not differ, differ
