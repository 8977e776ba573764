"""Multimodal (binary-column) pipeline operators — SURVEY.md §2A phase 2
plus the driver-contract multimodal extensions (§2B).

Image/audio/video payloads travel as opaque BinaryType columns with typed
metadata; decode / feature-extract / frame-sample run executor-side in
Arrow-batched pandas UDFs (mapInPandas). Every per-row stage is a row
function handed to `functions/rows.map_rows`, the package's one per-row
Arrow loop (image stages through `map_decoded`, which decodes first);
only q8m's spectrogram works on whole batches. The corpus is the
deterministic synthetic one from sources/images.py, whose pixel function
is plain integer arithmetic — so the DuckDB oracle re-derives the
expected decoded values cell-for-cell in SQL, giving a binary pipeline
full value-level oracle coverage (q80/q81/q84/q85/q86). The randomized augment paths
(q82/q83 partially) are rows-only checked by the driver; their invariants
(shape, range, seed-determinism) are pinned by tests/test_multimodal.py.

Reference analogs: decode S3-S5, ETL writer S6/EP4, augment M2-M9
(file:line cites in the called functions).

Scale notes (100 TB):
  - only (doc_id, lang) leave the documents scan (column pruning); the
    MB-scale payloads are born and consumed inside executor UDFs and,
    for q84, written straight to sharded parquet — the driver never sees
    a pixel.
  - every stage is embarrassingly parallel per Arrow batch; no shuffles
    except q84's explicit repartition-by-(split, shard) fan-out, which is
    exactly one pass over the payload bytes.
  - Arrow batch size is capped session-wide (maxRecordsPerBatch=2048) so
    image batches stay well under executor memory.
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.functions.imagecodec import decode_image
from tf_datapipeline_spark.functions.imageops import (
    preprocess_for_eval,
    preprocess_for_train,
    rng_for_row,
)
from tf_datapipeline_spark.functions.rows import map_rows
from tf_datapipeline_spark.registry import query
from tf_datapipeline_spark.sources.etl import (
    read_records,
    scratch_dir,
    write_sharded_records,
)
from tf_datapipeline_spark.sources.images import (
    DIMS_SQL,
    SYNTHETIC_DIMS_SQL,
    SYNTHETIC_JPEG_DIMS_SQL,
    synthetic_corpus,
    synthetic_dims,
    synthetic_jpeg_dims,
)

_PPM_BYTES_SQL = (
    "9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * h * w"
)

_DOC_ID_RE = re.compile(r"/(\d+)\.(?:ppm|png|jpe?g)$")


def _doc_id_of(path: str) -> int:
    m = _DOC_ID_RE.search(path)
    if m is None:
        raise ValueError(f"path without doc id: {path!r}")
    return int(m.group(1))


def map_decoded(
    corpus: DataFrame,
    rows_of: Callable[[int, np.ndarray], list[tuple]],
    schema: str,
) -> DataFrame:
    """The one per-image decode stage, on `functions/rows.map_rows`:
    project (path, image_format, content), decode each payload once, and
    emit the rows `rows_of(doc_id, decoded array)` returns — one or
    several per image — under `schema`. The plan's MapInPandas node
    carries `rows_of`'s name."""

    def decode_rows(path: str, fmt: str, content: bytes) -> list[tuple]:
        return rows_of(_doc_id_of(path), decode_image(bytes(content), fmt))

    decode_rows.__name__ = rows_of.__name__
    return map_rows(
        corpus.select("path", "image_format", "content"), decode_rows, schema
    )


# q80's and q8j's metadata row (doc_id, class_name, image_format, height,
# width, channels, n_bytes): dims and channels come from the DECODED
# payload, so a broken codec or Arrow plumbing shows in the row
IMAGE_META_SCHEMA = (
    "doc_id bigint, class_name string, image_format string, "
    "height bigint, width bigint, channels int, n_bytes bigint"
)


def image_meta_row(
    doc_id: int, class_name: str, fmt: str, payload: bytes
) -> tuple:
    h, w, c = decode_image(payload, fmt).shape
    return (doc_id, class_name, fmt, h, w, c, len(payload))


# --------------------------------------------------------------------------
# q80 — corpus scan + decode probe: binary payload -> (dims, channels,
# size) metadata. Reference S1/S5 (get_filenames_and_classes +
# ImageReader.read_image_dims, make_tf_record.py:21-23). The decode is
# load-bearing: height/width/channels come from the DECODED array, and the
# oracle recomputes them arithmetically — a broken codec or UDF plumbing
# mismatches instantly.
# --------------------------------------------------------------------------
@query(
    "q80_image_metadata",
    oracle=f"""
    SELECT doc_id, lang AS class_name, 'ppm' AS image_format,
           h AS height, w AS width, 3 AS channels,
           {_PPM_BYTES_SQL} AS n_bytes
    FROM ({DIMS_SQL})
    """,
)
def q80_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    def probe(path: str, class_name: str, fmt: str, content: bytes) -> list[tuple]:
        return [image_meta_row(_doc_id_of(path), class_name, fmt, bytes(content))]

    corpus = synthetic_corpus(spark, sf_dir)
    return map_rows(
        corpus.select("path", "class_name", "image_format", "content"),
        probe,
        IMAGE_META_SCHEMA,
    )


# --------------------------------------------------------------------------
# q81 — decode + per-image pixel statistics. The oracle recomputes every
# pixel value in SQL over a generate_series grid, so this checks the
# entire encode -> binary column -> Arrow -> decode path value-for-value.
# Mean is exact-int sum / count, divided as double in both engines.
# --------------------------------------------------------------------------
@query(
    "q81_pixel_stats",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    px AS (
      SELECT d.doc_id, (3*i.i + 5*j.j + 11*c.c + d.doc_id) % 256 AS v
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           COUNT(*) AS n_px, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS px_mean
    FROM px GROUP BY doc_id
    """,
)
def q81_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        s = int(arr.sum())
        n = int(arr.size)
        return [(doc_id, int(arr.min()), int(arr.max()), s, n, float(s) / n)]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        stats,
        "doc_id bigint, px_min int, px_max int, px_sum bigint, "
        "n_px bigint, px_mean double",
    )


def _decoded_dims_stats(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Per-image decoded dims + pixel stats over the `fmt`-encoded
    corpus — q8b (PNG) and q8d (JPEG)."""

    def stats(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        return [
            (
                doc_id,
                arr.shape[0],
                arr.shape[1],
                int(arr.min()),
                int(arr.max()),
                int(arr.sum()),
                int(arr.size),
            )
        ]

    return map_decoded(
        synthetic_corpus(spark, sf_dir, fmt=fmt),
        stats,
        "doc_id bigint, height int, width int, px_min int, "
        "px_max int, px_sum bigint, n_px bigint",
    )


# --------------------------------------------------------------------------
# q8b — PNG decode end-to-end (reference S4: tf.image.decode_png, tutorial
# nb cell 6): the synthetic corpus re-encoded as real 8-bit truecolor PNG
# (pure-stdlib zlib + all five scanline filters, functions/imagecodec.py),
# decoded executor-side, reduced to per-image stats the oracle recomputes
# cell-for-cell — so inflate, CRC walk, unfiltering AND the Arrow plumbing
# are all value-checked. Decoded dims come from the IHDR-driven reshape,
# checked against the arithmetic dims.
# --------------------------------------------------------------------------
@query(
    "q8b_png_decode",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    px AS (
      SELECT d.doc_id, d.h, d.w,
             (3*i.i + 5*j.j + 11*c.c + d.doc_id) % 256 AS v
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, CAST(h AS INTEGER) AS height, CAST(w AS INTEGER) AS width,
           CAST(MIN(v) AS INTEGER) AS px_min, CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           COUNT(*) AS n_px
    FROM px GROUP BY doc_id, h, w
    """,
)
def q8b_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decoded_dims_stats(spark, sf_dir, "png")


# --------------------------------------------------------------------------
# q8c — bbox debug overlay (reference M11: tf.image.draw_bounding_boxes,
# dataset_preprocessing.py:193-231): draw a 1-px red box over the central
# half of each image (box corners = h//4..3h//4 x w//4..3w//4, a
# deterministic function of the dims) and reduce the annotated image to
# pixel stats. The oracle replays the border predicate and overlay color
# cell-for-cell, so the drawing kernel itself is value-checked — the
# reference could only eyeball this op.
# --------------------------------------------------------------------------
@query(
    "q8c_bbox_overlay",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    box AS (
      SELECT doc_id, h, w,
             h // 4 AS y0, w // 4 AS x0,
             (3 * h) // 4 AS y1, (3 * w) // 4 AS x1
      FROM dims
    ),
    grid AS (
      SELECT b.doc_id, i.i AS i, j.j AS j,
             CASE WHEN ((i.i = b.y0 OR i.i = b.y1) AND j.j BETWEEN b.x0 AND b.x1)
                    OR ((j.j = b.x0 OR j.j = b.x1) AND i.i BETWEEN b.y0 AND b.y1)
                  THEN 1 ELSE 0 END AS ib
      FROM box b,
           LATERAL (SELECT unnest(generate_series(0, b.h - 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, b.w - 1)) AS j) j
    ),
    px AS (
      SELECT doc_id, ib,
             CASE WHEN ib = 1 THEN CASE WHEN c.c = 0 THEN 255 ELSE 0 END
                  ELSE (3*i + 5*j + 11*c.c + doc_id) % 256 END AS v
      FROM grid, (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(ib) // 3 AS BIGINT) AS border_px, COUNT(*) AS n_px
    FROM px GROUP BY doc_id
    """,
)
def q8c_bbox_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imageops import draw_bbox

    def overlay(doc_id: int, arr: np.ndarray) -> list[tuple]:
        h, w = arr.shape[:2]
        y0, x0, y1, x1 = h // 4, w // 4, (3 * h) // 4, (3 * w) // 4
        drawn = draw_bbox(arr, y0, x0, y1, x1).astype(np.int64)
        border = 2 * (x1 - x0 + 1) + 2 * (y1 - y0 + 1) - 4
        return [
            (
                doc_id,
                int(drawn.min()),
                int(drawn.max()),
                int(drawn.sum()),
                border,
                int(drawn.size),
            )
        ]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        overlay,
        "doc_id bigint, px_min int, px_max int, px_sum bigint, "
        "border_px bigint, n_px bigint",
    )


# --------------------------------------------------------------------------
# q8d — JPEG decode end-to-end (reference S3: tf.image.decode_jpeg,
# make_tf_record.py:18-19): the flat-block grayscale corpus encoded as
# REAL baseline JFIF (huffman + DCT, functions/jpegcodec.py) at quality
# 100, decoded executor-side. Flat 8x8 blocks have a DC-only DCT, so the
# roundtrip is bit-exact and the oracle re-derives every decoded pixel —
# value-level verification of a lossy-format codec. Dims come from the
# decoded array (SOF0-driven), checked against the arithmetic dims.
# --------------------------------------------------------------------------
@query(
    "q8d_jpeg_decode",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             {SYNTHETIC_JPEG_DIMS_SQL[0]} AS h,
             {SYNTHETIC_JPEG_DIMS_SQL[1]} AS w
      FROM documents
    ),
    px AS (
      SELECT d.doc_id, d.h, d.w,
             (37 * (i.i // 8) + 59 * (j.j // 8) + d.doc_id) % 256 AS v
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS j) j
    )
    SELECT doc_id, CAST(h AS INTEGER) AS height, CAST(w AS INTEGER) AS width,
           CAST(MIN(v) AS INTEGER) AS px_min, CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(3 * SUM(v) AS BIGINT) AS px_sum, 3 * COUNT(*) AS n_px
    FROM px GROUP BY doc_id, h, w
    """,
)
def q8d_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decoded_dims_stats(spark, sf_dir, "jpeg")


# --------------------------------------------------------------------------
# q8d2 — JPEG codec on NON-trivial content: a 64-doc
# gradient-RGB corpus (every AC band populated, odd non-multiple-of-16
# dims) encoded 4:2:0 at quality 75 and decoded executor-side — the
# huffman AC run/size paths, chroma subsample/upsample and MCU padding
# that q8d's flat-block (DC-only) corpus never touches. The lossy DCT
# has no closed-form SQL twin, so the oracle is frozen per-doc literals
# (q83g's device): decode stats plus two spatial probe pixels, integers
# only, a pure function of doc_id — identical at every sf. The codec
# itself is verified against an independently-derived T.81 decoder in
# tests/test_multimodal.py::test_jpeg_engine_matches_independent_decoder.
# --------------------------------------------------------------------------
_J420_DOCS = 64
_J420_GOLDEN_ROWS: tuple[tuple, ...] = (
    (0, 17, 17, 0, 118, 39294, 25, 54),
    (1, 32, 26, 0, 187, 213460, 48, 98),
    (2, 31, 19, 1, 165, 143118, 44, 88),
    (3, 30, 28, 3, 227, 252104, 51, 146),
    (4, 29, 21, 4, 190, 174248, 45, 122),
    (5, 28, 30, 0, 255, 273374, 52, 170),
    (6, 27, 23, 5, 233, 203469, 45, 148),
    (7, 26, 32, 3, 253, 268772, 50, 209),
    (8, 25, 25, 0, 255, 213399, 48, 187),
    (9, 24, 18, 8, 238, 154783, 45, 171),
    (10, 23, 27, 2, 242, 204377, 49, 218),
    (11, 22, 20, 9, 252, 159261, 45, 211),
    (12, 21, 29, 9, 249, 203631, 50, 137),
    (13, 20, 22, 11, 249, 149120, 43, 226),
    (14, 19, 31, 8, 242, 197563, 70, 21),
    (15, 18, 24, 5, 247, 140641, 68, 37),
    (16, 17, 17, 5, 247, 93202, 42, 7),
    (17, 32, 26, 0, 255, 294401, 66, 49),
    (18, 31, 19, 0, 255, 197736, 59, 51),
    (19, 30, 28, 0, 255, 299499, 66, 96),
    (20, 29, 21, 0, 255, 196179, 59, 73),
    (21, 28, 30, 0, 250, 309682, 68, 123),
    (22, 27, 23, 0, 255, 218411, 61, 100),
    (23, 26, 32, 0, 255, 323734, 67, 162),
    (24, 25, 25, 0, 255, 237223, 64, 139),
    (25, 24, 18, 0, 255, 156653, 61, 122),
    (26, 23, 27, 0, 255, 239852, 58, 161),
    (27, 22, 20, 0, 255, 170644, 61, 154),
    (28, 21, 29, 0, 255, 222859, 65, 212),
    (29, 20, 22, 0, 255, 169119, 58, 255),
    (30, 19, 31, 0, 255, 206640, 69, 236),
    (31, 18, 24, 0, 255, 146192, 59, 227),
    (32, 17, 17, 0, 255, 102916, 57, 207),
    (33, 32, 26, 0, 255, 266326, 71, 0),
    (34, 31, 19, 0, 255, 185293, 83, 255),
    (35, 30, 28, 0, 255, 262295, 66, 28),
    (36, 29, 21, 0, 255, 174018, 67, 33),
    (37, 28, 30, 0, 246, 244024, 87, 73),
    (38, 27, 23, 0, 243, 164528, 85, 59),
    (39, 26, 32, 4, 217, 248521, 77, 108),
    (40, 25, 25, 4, 179, 172507, 80, 92),
    (41, 24, 18, 18, 146, 113296, 77, 75),
    (42, 23, 27, 29, 218, 198180, 81, 122),
    (43, 22, 20, 42, 177, 134183, 77, 116),
    (44, 21, 29, 0, 253, 215137, 84, 159),
    (45, 20, 22, 45, 223, 152805, 77, 139),
    (46, 19, 31, 7, 251, 209536, 86, 191),
    (47, 18, 24, 45, 255, 163912, 82, 186),
    (48, 17, 17, 46, 230, 108664, 72, 166),
    (49, 32, 26, 11, 255, 356127, 95, 210),
    (50, 31, 19, 1, 255, 268548, 91, 200),
    (51, 30, 28, 5, 255, 354018, 97, 140),
    (52, 29, 21, 0, 255, 268480, 91, 248),
    (53, 28, 30, 0, 255, 361195, 105, 27),
    (54, 27, 23, 0, 255, 262480, 96, 2),
    (55, 26, 32, 2, 255, 361519, 100, 60),
    (56, 25, 25, 0, 255, 254728, 94, 54),
    (57, 24, 18, 0, 255, 167355, 92, 36),
    (58, 23, 27, 0, 255, 253161, 98, 79),
    (59, 22, 20, 0, 255, 164568, 95, 85),
    (60, 21, 29, 0, 255, 255030, 100, 112),
    (61, 20, 22, 0, 246, 171445, 93, 90),
    (62, 19, 31, 2, 253, 261636, 101, 142),
    (63, 18, 24, 0, 255, 184680, 91, 151),
)


def _q8d2_sql() -> str:
    vals = ",\n      ".join(
        f"({d}, {h}, {w}, {mn}, {mx}, {s}, {pa}, {pb})"
        for (d, h, w, mn, mx, s, pa, pb) in _J420_GOLDEN_ROWS
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(height AS INTEGER) AS height,
           CAST(width AS INTEGER) AS width,
           CAST(px_min AS INTEGER) AS px_min,
           CAST(px_max AS INTEGER) AS px_max,
           CAST(px_sum AS BIGINT) AS px_sum,
           CAST(px_probe_a AS INTEGER) AS px_probe_a,
           CAST(px_probe_b AS INTEGER) AS px_probe_b
    FROM (VALUES {vals})
      AS t(doc_id, height, width, px_min, px_max, px_sum,
           px_probe_a, px_probe_b)
    """


@query(
    "q8d2_jpeg420_golden",
    oracle=_q8d2_sql() if _J420_GOLDEN_ROWS else None,
)
def q8d2_jpeg420_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
    from tf_datapipeline_spark.sources.images import synthetic_jpeg_rgb_pixels

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _J420_DOCS)
        .select("doc_id")
    )

    def codec(doc_id: int) -> list[tuple]:
        src = synthetic_jpeg_rgb_pixels(doc_id)
        out = decode_jpeg(encode_jpeg(src, quality=75, subsampling="420")).astype(
            np.int64
        )
        hh, ww = out.shape[:2]
        return [
            (
                doc_id,
                hh,
                ww,
                int(out.min()),
                int(out.max()),
                int(out.sum()),
                int(out[hh // 3, ww // 3, 0]),
                int(out[hh // 2, ww // 2, 2]),
            )
        ]

    return map_rows(
        docs,
        codec,
        "doc_id bigint, height int, width int, px_min int, "
        "px_max int, px_sum bigint, px_probe_a int, px_probe_b int",
    )


# --------------------------------------------------------------------------
# q82 — fused train-time augment (reference M2-M9: distorted crop, random
# resize method, random flip, 4-ordering color jitter, [-1,1] normalize)
# with seeded per-row RNG (seed = f(42, doc_id) — stable under task
# retries and partitioning). Randomized numerics are not SQL-expressible
# -> rows-only driver check; invariants pinned in tests.
# --------------------------------------------------------------------------
_AUG_H, _AUG_W = 32, 32
_AUG_SEED = 42


def _train_augment_stats(corpus: DataFrame) -> DataFrame:
    """Seeded train-augment chain (M2-M9) -> per-doc stats rows. Shared
    by q82 (full corpus, rows-only) and q82g (fixed slice, golden-hash
    value check)."""

    def augment(path: str, cls: str, fmt: str, content: bytes) -> list[tuple]:
        doc_id = _doc_id_of(path)
        arr = decode_image(bytes(content), fmt)
        out, meta = preprocess_for_train(
            arr, rng_for_row(_AUG_SEED, doc_id), _AUG_H, _AUG_W
        )
        return [
            (
                doc_id,
                cls,
                out.shape[0],
                out.shape[1],
                out.shape[2],
                meta["crop_h"],
                meta["crop_w"],
                meta["resize_method"],
                meta["flipped"],
                meta["color_ordering"],
                float(out.min()),
                float(out.max()),
                float(out.mean()),
            )
        ]

    return map_rows(
        corpus.select("path", "class_name", "image_format", "content"),
        augment,
        "doc_id bigint, class_name string, out_h int, out_w int, "
        "channels int, crop_h int, crop_w int, resize_method int, "
        "flipped boolean, color_ordering int, px_min double, "
        "px_max double, px_mean double",
    )


@query("q82_augment_train")
def q82_augment_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _train_augment_stats(synthetic_corpus(spark, sf_dir))


# --------------------------------------------------------------------------
# q83 — eval path: central crop 0.875 + bilinear resize, range [0,1]
# (reference M9, preprocess_for_eval dataset_preprocessing.py:237-275).
# Deterministic but bilinear-over-grid is not reasonably SQL-expressible
# -> rows-only; determinism means repeated runs hash identically.
# --------------------------------------------------------------------------
def _eval_stats(corpus: DataFrame) -> DataFrame:
    """Deterministic eval preprocess (M9) -> per-doc stats rows. Shared
    by q83 (full corpus) and q82g (golden-hash slice)."""

    def ev(doc_id: int, arr: np.ndarray) -> list[tuple]:
        out = preprocess_for_eval(arr, _AUG_H, _AUG_W)
        return [
            (
                doc_id,
                out.shape[0],
                out.shape[1],
                out.shape[2],
                float(out.min()),
                float(out.max()),
                float(out.mean()),
            )
        ]

    return map_decoded(
        corpus,
        ev,
        "doc_id bigint, out_h int, out_w int, channels int, "
        "px_min double, px_max double, px_mean double",
    )


@query("q83_augment_eval")
def q83_augment_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _eval_stats(synthetic_corpus(spark, sf_dir))


# --------------------------------------------------------------------------
# q82g — GOLDEN-HASH value check for the randomized augment chain. The
# seeded kernels (M2-M9) are inherently non-SQL-expressible, so q82/q83
# are rows-only in the driver gate; this query closes that evidence gap:
# the synthetic corpus slice doc_id < 64 is IDENTICAL at every sf
# (pixels, dims and the per-row Philox stream derive from doc_id alone —
# sources/images.py:synthetic_pixels, functions/imageops.py:rng_for_row),
# so one literal md5 over the canonicalized per-doc augment stats is a
# full value check of the whole chain at any scale. Reference semantics:
# dataset_preprocessing.py:156-234 (train) / :237-275 (eval).
# --------------------------------------------------------------------------
_GOLDEN_DOCS = 64
# computed once from the Spark side (identical at sf0.001/sf0.01/sf0.1 —
# verified — because the slice is a pure function of doc_id and seed)
_TRAIN_GOLDEN = "c6bfd548f58b0a8a4b61188fe936e665"
_EVAL_GOLDEN = "bfc6c062bd27c15419f3aed5d6a21c0e"


def _golden_digest(df: DataFrame, cols: list[str]) -> F.Column:
    canon = F.concat_ws(":", *[F.col(c).cast("string") for c in cols])
    return F.md5(F.concat_ws("|", F.sort_array(F.collect_list(canon))))


@query(
    "q82g_augment_golden",
    oracle=f"""
    SELECT CAST({_GOLDEN_DOCS} AS BIGINT) AS n_docs,
           '{_TRAIN_GOLDEN}' AS train_hash,
           '{_EVAL_GOLDEN}' AS eval_hash
    """,
)
def q82g_augment_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    flt = F.col("doc_id") < _GOLDEN_DOCS
    # class_name/lang is sf-dependent — exclude it from the canonical
    # string; everything else is a pure function of (doc_id, seed)
    train = _train_augment_stats(
        synthetic_corpus(spark, sf_dir, docs_filter=flt)
    ).select(
        "doc_id",
        "out_h",
        "out_w",
        "channels",
        "crop_h",
        "crop_w",
        "resize_method",
        F.col("flipped").cast("int").alias("flipped"),
        "color_ordering",
        F.round("px_min", 6).alias("px_min"),
        F.round("px_max", 6).alias("px_max"),
        F.round("px_mean", 6).alias("px_mean"),
    )
    ev = _eval_stats(synthetic_corpus(spark, sf_dir, docs_filter=flt)).select(
        "doc_id",
        "out_h",
        "out_w",
        "channels",
        F.round("px_min", 6).alias("px_min"),
        F.round("px_max", 6).alias("px_max"),
        F.round("px_mean", 6).alias("px_mean"),
    )
    t = train.agg(
        F.count(F.lit(1)).alias("n_docs"),
        _golden_digest(
            train,
            [
                "doc_id", "out_h", "out_w", "channels", "crop_h", "crop_w",
                "resize_method", "flipped", "color_ordering",
                "px_min", "px_max", "px_mean",
            ],
        ).alias("train_hash"),
    )
    e = ev.agg(
        _golden_digest(
            ev,
            ["doc_id", "out_h", "out_w", "channels", "px_min", "px_max", "px_mean"],
        ).alias("eval_hash")
    )
    return t.crossJoin(e).select("n_docs", "train_hash", "eval_hash")


# --------------------------------------------------------------------------
# q83g — per-doc LITERAL-VALUES oracle for the deterministic eval chain
# (reference M9 + bilinear: /255 -> central_crop(0.875) -> bilinear
# resize, dataset_preprocessing.py:237-275). Stronger evidence than
# q82g's single eval md5: every one of the 64 golden docs contributes a
# full stats row at TWO output sizes — square 32x32 and non-square 24x20
# (fractional scale, so the half-pixel-center bilinear weights are
# genuinely exercised, not the degenerate integer-ratio case) — and two
# PROBE PIXELS pin the spatial layout that permutation-invariant
# min/max/mean cannot (a flipped or transposed crop would pass q82g's
# aggregate stats but fail the probes). The golden slice doc_id < 64 is
# identical at every sf (pixels derive from doc_id alone), so the frozen
# literals are a value-level oracle at any scale. Floats are embedded as
# quoted strings cast to DOUBLE (strtod round-trip is exact; a bare SQL
# literal would parse as DECIMAL and could lose the last ulp).
#
# Golden provenance: these literals were GENERATED by this
# implementation and then frozen — they pin behavior against future
# regressions, they do not independently verify it. The independent
# check is tests/test_eval_independent.py: hand-derived
# closed-form bilinear literals + a scalar spec-loop derivation of the
# full /255 -> central-slice -> bilinear chain, sharing no code with
# functions/imageops.py — the q83g analog of tests/jpeg_independent.py.
# --------------------------------------------------------------------------
_EVAL_SIZES = ((32, 32), (24, 20))
_EVAL_GOLDEN_ROWS: tuple[tuple, ...] = (
    (0, 24, 20, 3, 0.0, 0.30588236451148987, 0.15294116735458374, 0.06862745434045792, 0.20196078717708588),
    (0, 32, 32, 3, 0.0, 0.30588236451148987, 0.15294118225574493, 0.06666667014360428, 0.20000000298023224),
    (1, 24, 20, 3, 0.015931373462080956, 0.5997549295425415, 0.3078431487083435, 0.18063727021217346, 0.36299020051956177),
    (1, 32, 32, 3, 0.01568627543747425, 0.6000000238418579, 0.3078431487083435, 0.17371323704719543, 0.3592524528503418),
    (2, 24, 20, 3, 0.03921568766236305, 0.5921568870544434, 0.31568628549575806, 0.1919117569923401, 0.3703431487083435),
    (2, 32, 32, 3, 0.03921568766236305, 0.5921568870544434, 0.31568628549575806, 0.18694853782653809, 0.36660540103912354),
    (3, 24, 20, 3, 0.0313725508749485, 0.615686297416687, 0.3235294222831726, 0.1928921490907669, 0.3791666626930237),
    (3, 32, 32, 3, 0.0313725508749485, 0.615686297416687, 0.3235294222831726, 0.18939951062202454, 0.3749387264251709),
    (4, 24, 20, 3, 0.036274511367082596, 0.6264706254005432, 0.33137252926826477, 0.1973039209842682, 0.38749998807907104),
    (4, 32, 32, 3, 0.03529411926865578, 0.6274510025978088, 0.33137255907058716, 0.19589459896087646, 0.38290441036224365),
    (5, 24, 20, 3, 0.05441176891326904, 0.91813725233078, 0.4862745404243469, 0.30931374430656433, 0.5485294461250305),
    (5, 32, 32, 3, 0.05098039284348488, 0.9215686321258545, 0.4862745702266693, 0.3029412031173706, 0.5421569347381592),
    (6, 24, 20, 3, 0.0784313753247261, 0.9098039269447327, 0.4941176474094391, 0.32058823108673096, 0.5558823943138123),
    (6, 32, 32, 3, 0.07450980693101883, 0.9137254953384399, 0.4941176474094391, 0.31617647409439087, 0.5495098233222961),
    (7, 24, 20, 3, 0.03921568766236305, 0.4745098054409027, 0.2568627595901489, 0.15196079015731812, 0.3088235557079315),
    (7, 32, 32, 3, 0.03921568766236305, 0.4745098054409027, 0.2568627595901489, 0.14834560453891754, 0.30594363808631897),
    (8, 24, 20, 3, 0.0313725508749485, 0.49803921580314636, 0.26470592617988586, 0.15294116735458374, 0.3176470398902893),
    (8, 32, 32, 3, 0.0313725508749485, 0.49803921580314636, 0.2647058963775635, 0.150796577334404, 0.3142769932746887),
    (9, 24, 20, 3, 0.0674019604921341, 0.7718137502670288, 0.41960784792900085, 0.2718137204647064, 0.4776960611343384),
    (9, 32, 32, 3, 0.06666667014360428, 0.772549033164978, 0.41960787773132324, 0.2645833492279053, 0.4729166626930237),
    (10, 24, 20, 3, 0.07107843458652496, 0.783823549747467, 0.4274509847164154, 0.2762255072593689, 0.48602938652038574),
    (10, 32, 32, 3, 0.07058823853731155, 0.7843137383460999, 0.4274509847164154, 0.2710784673690796, 0.48088234663009644),
    (11, 24, 20, 3, 0.07696078717708588, 0.7936274409294128, 0.43529418110847473, 0.280637264251709, 0.4943627715110779),
    (11, 32, 32, 3, 0.07450980693101883, 0.7960784435272217, 0.43529415130615234, 0.27757352590560913, 0.4888480305671692),
    (12, 24, 20, 3, 0.07107843458652496, 0.8151960968971252, 0.4431372880935669, 0.281617671251297, 0.5031863451004028),
    (12, 32, 32, 3, 0.06666667014360428, 0.8196078538894653, 0.4431372582912445, 0.28002452850341797, 0.49718138575553894),
    (13, 24, 20, 3, 0.06372549384832382, 0.6421568989753723, 0.3529411852359772, 0.22745099663734436, 0.40784314274787903),
    (13, 32, 32, 3, 0.062745101749897, 0.6431372761726379, 0.3529411852359772, 0.2194852977991104, 0.40428921580314636),
    (14, 24, 20, 3, 0.06666667014360428, 0.6549019813537598, 0.3607843220233917, 0.23186275362968445, 0.4161764681339264),
    (14, 32, 32, 3, 0.06666667014360428, 0.6549019813537598, 0.3607843220233917, 0.22598040103912354, 0.4122549295425415),
    (15, 24, 20, 3, 0.09019608050584793, 0.6470588445663452, 0.3686274588108063, 0.24313727021217346, 0.42352941632270813),
    (15, 32, 32, 3, 0.09019608050584793, 0.6470588445663452, 0.3686274588108063, 0.239215686917305, 0.41960784792900085),
    (16, 24, 20, 3, 0.08235294371843338, 0.6705882549285889, 0.37647056579589844, 0.2441176474094391, 0.4323529303073883),
    (16, 32, 32, 3, 0.08235294371843338, 0.6705882549285889, 0.3764705955982208, 0.24166665971279144, 0.4279411733150482),
    (17, 24, 20, 3, 0.10122548788785934, 0.9615196585655212, 0.531372606754303, 0.35612747073173523, 0.5933823585510254),
    (17, 32, 32, 3, 0.09803921729326248, 0.9647058844566345, 0.5313725471496582, 0.3487132489681244, 0.5871936082839966),
    (18, 24, 20, 3, 0.10588235408067703, 0.9725490808486938, 0.5392156839370728, 0.3605392277240753, 0.6017157435417175),
    (18, 32, 32, 3, 0.10196078568696976, 0.9764705896377563, 0.5392156839370728, 0.3552083373069763, 0.5951592922210693),
    (19, 24, 20, 3, 0.08627451211214066, 0.5176470875740051, 0.3019607961177826, 0.198774516582489, 0.3536764979362488),
    (19, 32, 32, 3, 0.08627451211214066, 0.5176470875740051, 0.3019607961177826, 0.19411765038967133, 0.35098040103912354),
    (20, 24, 20, 3, 0.0784313753247261, 0.5411764979362488, 0.30980393290519714, 0.19975489377975464, 0.36249998211860657),
    (20, 32, 32, 3, 0.0784313753247261, 0.5411764979362488, 0.30980393290519714, 0.19656862318515778, 0.3593137264251709),
    (21, 24, 20, 3, 0.12647059559822083, 0.8029411435127258, 0.4647059142589569, 0.32205885648727417, 0.5220588445663452),
    (21, 32, 32, 3, 0.125490203499794, 0.8039215803146362, 0.46470585465431213, 0.3143995404243469, 0.517585813999176),
    (22, 24, 20, 3, 0.11764705926179886, 0.8274509906768799, 0.4725490212440491, 0.3230392336845398, 0.5308823585510254),
    (22, 32, 32, 3, 0.11764705926179886, 0.8274509906768799, 0.47254905104637146, 0.316850483417511, 0.5259190797805786),
    (23, 24, 20, 3, 0.12303921580314636, 0.8377450704574585, 0.4803921580314636, 0.3274509906768799, 0.5392156839370728),
    (23, 32, 32, 3, 0.12156862765550613, 0.8392156958580017, 0.480392187833786, 0.3233456015586853, 0.5338848233222961),
    (24, 24, 20, 3, 0.11715686321258545, 0.8593137264251709, 0.4882352948188782, 0.3284313678741455, 0.5480392575263977),
    (24, 32, 32, 3, 0.11372549086809158, 0.8627451062202454, 0.48823532462120056, 0.32579660415649414, 0.5422182083129883),
    (25, 24, 20, 3, 0.09803921729326248, 0.40392157435417175, 0.2509803771972656, 0.1666666567325592, 0.30000001192092896),
    (25, 32, 32, 3, 0.09803921729326248, 0.40392157435417175, 0.250980406999588, 0.16470587253570557, 0.2980392575263977),
    (26, 24, 20, 3, 0.11397059261798859, 0.6977941393852234, 0.4058823883533478, 0.27867650985717773, 0.46102944016456604),
    (26, 32, 32, 3, 0.11372549086809158, 0.6980392336845398, 0.4058823585510254, 0.2717524766921997, 0.4572916626930237),
    (27, 24, 20, 3, 0.13725490868091583, 0.6901960968971252, 0.41372549533843994, 0.289950966835022, 0.4683823585510254),
    (27, 32, 32, 3, 0.13725490868091583, 0.6901960968971252, 0.41372549533843994, 0.28498774766921997, 0.4646446108818054),
    (28, 24, 20, 3, 0.12941177189350128, 0.7137255072593689, 0.4215686321258545, 0.29093137383461, 0.47720587253570557),
    (28, 32, 32, 3, 0.12941177189350128, 0.7137255072593689, 0.4215686321258545, 0.2874387502670288, 0.47297796607017517),
    (29, 24, 20, 3, 0.13431371748447418, 0.7245098352432251, 0.42941176891326904, 0.29534316062927246, 0.4855392575263977),
    (29, 32, 32, 3, 0.13333334028720856, 0.7254902124404907, 0.42941176891326904, 0.29393380880355835, 0.48094362020492554),
    (30, 24, 20, 3, 0.15245100855827332, 0.990686297416687, 0.583202600479126, 0.40735292434692383, 0.6465686559677124),
    (30, 32, 32, 3, 0.007230392657220364, 0.9920343160629272, 0.583280086517334, 0.4009804129600525, 0.6401961445808411),
    (31, 24, 20, 3, 0.1764705926179886, 0.9892157316207886, 0.5914597511291504, 0.41862744092941284, 0.6539216041564941),
    (31, 32, 32, 3, 0.007843137718737125, 0.9992647171020508, 0.5915504693984985, 0.41421571373939514, 0.6475490927696228),
    (32, 24, 20, 3, 0.13725490868091583, 0.572549045085907, 0.3549019396305084, 0.25, 0.4068627655506134),
    (32, 32, 32, 3, 0.13725490868091583, 0.572549045085907, 0.3549019992351532, 0.24638481438159943, 0.40398281812667847),
    (33, 24, 20, 3, 0.12941177189350128, 0.5960784554481506, 0.362745076417923, 0.2509803771972656, 0.4156862795352936),
    (33, 32, 32, 3, 0.12941177189350128, 0.5960784554481506, 0.36274513602256775, 0.24883578717708588, 0.4123162031173706),
    (34, 24, 20, 3, 0.16544117033481598, 0.8698529601097107, 0.5176470875740051, 0.3698529303073883, 0.575735330581665),
    (34, 32, 32, 3, 0.16470588743686676, 0.8705882430076599, 0.5176470875740051, 0.36262255907058716, 0.5709559321403503),
    (35, 24, 20, 3, 0.16911764442920685, 0.8818627595901489, 0.5254902243614197, 0.3742647171020508, 0.5840686559677124),
    (35, 32, 32, 3, 0.16862745583057404, 0.8823529481887817, 0.5254902243614197, 0.3691176474094391, 0.5789215564727783),
    (36, 24, 20, 3, 0.17500001192092896, 0.8916666507720947, 0.5333333611488342, 0.37867647409439087, 0.5924019813537598),
    (36, 32, 32, 3, 0.1725490242242813, 0.8941176533699036, 0.5333333015441895, 0.375612735748291, 0.5868872404098511),
    (37, 24, 20, 3, 0.16911764442920685, 0.9132353067398071, 0.5411764979362488, 0.3796568512916565, 0.6012254953384399),
    (37, 32, 32, 3, 0.16470588743686676, 0.9176470637321472, 0.5411764979362488, 0.37806373834609985, 0.5952205657958984),
    (38, 24, 20, 3, 0.1617647111415863, 0.7401960492134094, 0.45098042488098145, 0.32549020648002625, 0.5058823227882385),
    (38, 32, 32, 3, 0.16078431904315948, 0.7411764860153198, 0.45098042488098145, 0.3175245225429535, 0.5023284554481506),
    (39, 24, 20, 3, 0.16470588743686676, 0.7529411911964417, 0.458823561668396, 0.32990196347236633, 0.5142157077789307),
    (39, 32, 32, 3, 0.16470588743686676, 0.7529411911964417, 0.4588235318660736, 0.3240196108818054, 0.5102941393852234),
    (40, 24, 20, 3, 0.1882352977991104, 0.7450980544090271, 0.46666666865348816, 0.34117648005485535, 0.5215686559677124),
    (40, 32, 32, 3, 0.1882352977991104, 0.7450980544090271, 0.46666669845581055, 0.33725491166114807, 0.5176470875740051),
    (41, 24, 20, 3, 0.18039216101169586, 0.7686274647712708, 0.4745098054409027, 0.34215688705444336, 0.5303921699523926),
    (41, 32, 32, 3, 0.18039216101169586, 0.7686274647712708, 0.4745098352432251, 0.3397058844566345, 0.5259804129600525),
    (42, 24, 20, 3, 0.027205882593989372, 0.9928921461105347, 0.621950626373291, 0.4541666507720947, 0.691421627998352),
    (42, 32, 32, 3, 0.0024509804788976908, 0.9926470518112183, 0.6221149563789368, 0.4467524588108063, 0.6852328777313232),
    (43, 24, 20, 3, 0.000735294132027775, 0.9882352948188782, 0.6260073184967041, 0.4585784375667572, 0.6997549533843994),
    (43, 32, 32, 3, 0.004595588427037001, 0.9916054010391235, 0.6262226700782776, 0.4532475769519806, 0.693198561668396),
    (44, 24, 20, 3, 0.18431372940540314, 0.615686297416687, 0.4000000059604645, 0.2968137264251709, 0.45171570777893066),
    (44, 32, 32, 3, 0.18431372940540314, 0.615686297416687, 0.4000000059604645, 0.2921569049358368, 0.4490196108818054),
    (45, 24, 20, 3, 0.1764705926179886, 0.6392157077789307, 0.40784314274787903, 0.2977941036224365, 0.46053919196128845),
    (45, 32, 32, 3, 0.1764705926179886, 0.6392157077789307, 0.40784314274787903, 0.29460781812667847, 0.4573529362678528),
    (46, 24, 20, 3, 0.2245098054409027, 0.9009804129600525, 0.5627450942993164, 0.42009806632995605, 0.6200981140136719),
    (46, 32, 32, 3, 0.2235294133424759, 0.9019607901573181, 0.5627451539039612, 0.4124387502670288, 0.6156249642372131),
    (47, 24, 20, 3, 0.21568627655506134, 0.9254902005195618, 0.570588231086731, 0.4210784435272217, 0.6289215683937073),
    (47, 32, 32, 3, 0.21568627655506134, 0.9254902005195618, 0.570588231086731, 0.41488969326019287, 0.6239583492279053),
    (48, 24, 20, 3, 0.22107844054698944, 0.9357843399047852, 0.5784313678741455, 0.42549020051956177, 0.6372549533843994),
    (48, 32, 32, 3, 0.21960784494876862, 0.9372549057006836, 0.5784313678741455, 0.4213848114013672, 0.631924033164978),
    (49, 24, 20, 3, 0.21519607305526733, 0.9573529362678528, 0.5862745642662048, 0.4264705777168274, 0.6460784673690796),
    (49, 32, 32, 3, 0.21176470816135406, 0.9607843160629272, 0.5862745046615601, 0.42383578419685364, 0.6402573585510254),
    (50, 24, 20, 3, 0.19607843458652496, 0.501960813999176, 0.3490196168422699, 0.2647058963775635, 0.39803922176361084),
    (50, 32, 32, 3, 0.19607843458652496, 0.501960813999176, 0.3490196168422699, 0.26274508237838745, 0.3960784673690796),
    (51, 24, 20, 3, 0.21200981736183167, 0.7958333492279053, 0.5039215683937073, 0.3767157196998596, 0.5590686798095703),
    (51, 32, 32, 3, 0.21176470816135406, 0.7960784435272217, 0.5039215683937073, 0.3697916865348816, 0.5553309321403503),
    (52, 24, 20, 3, 0.23529411852359772, 0.7882353067398071, 0.5117647647857666, 0.38799017667770386, 0.5664215683937073),
    (52, 32, 32, 3, 0.23529411852359772, 0.7882353067398071, 0.5117647051811218, 0.38302698731422424, 0.5626838803291321),
    (53, 24, 20, 3, 0.22745098173618317, 0.8117647171020508, 0.5196078419685364, 0.3889705538749695, 0.5752451419830322),
    (53, 32, 32, 3, 0.22745098173618317, 0.8117647171020508, 0.5196078419685364, 0.3854779601097107, 0.5710172057151794),
    (54, 24, 20, 3, 0.23235294222831726, 0.8225489854812622, 0.5274509787559509, 0.39338237047195435, 0.5835784673690796),
    (54, 32, 32, 3, 0.23137255012989044, 0.8235294222831726, 0.5274509787559509, 0.39197301864624023, 0.5789828896522522),
    (55, 24, 20, 3, 0.01617647148668766, 0.9946078658103943, 0.6533594727516174, 0.5053921937942505, 0.7446079254150391),
    (55, 32, 32, 3, 0.004779411945492029, 0.9944852590560913, 0.6535146832466125, 0.4990196228027344, 0.7382352948188782),
    (56, 24, 20, 3, 0.003921568859368563, 0.9911764860153198, 0.6599855422973633, 0.5166666507720947, 0.751960813999176),
    (56, 32, 32, 3, 0.003676470834761858, 0.9963235259056091, 0.6602877378463745, 0.5122548937797546, 0.7455882430076599),
    (57, 24, 20, 3, 0.23529411852359772, 0.6705882549285889, 0.4529411792755127, 0.3480392098426819, 0.5049020051956177),
    (57, 32, 32, 3, 0.23529411852359772, 0.6705882549285889, 0.4529411792755127, 0.3444240093231201, 0.5020220875740051),
    (58, 24, 20, 3, 0.22745098173618317, 0.6941176652908325, 0.46078431606292725, 0.3490196168422699, 0.5137255191802979),
    (58, 32, 32, 3, 0.22745098173618317, 0.6941176652908325, 0.46078428626060486, 0.34687501192092896, 0.5103554129600525),
    (59, 24, 20, 3, 0.26348039507865906, 0.9678921103477478, 0.615686297416687, 0.4678921699523926, 0.6737745404243469),
    (59, 32, 32, 3, 0.26274511218070984, 0.9686274528503418, 0.6156862378120422, 0.46066176891326904, 0.6689951419830322),
    (60, 24, 20, 3, 0.2671568691730499, 0.9799019694328308, 0.6235294342041016, 0.47230392694473267, 0.6821078658103943),
    (60, 32, 32, 3, 0.2666666805744171, 0.9803921580314636, 0.6235294342041016, 0.46715688705444336, 0.676960825920105),
    (61, 24, 20, 3, 0.27303922176361084, 0.9897058606147766, 0.6313725113868713, 0.47671571373939514, 0.6904411911964417),
    (61, 32, 32, 3, 0.2705882489681244, 0.9921568632125854, 0.6313725113868713, 0.4736519455909729, 0.6849265098571777),
    (62, 24, 20, 3, 0.225637286901474, 0.987500011920929, 0.6368743777275085, 0.4776960611343384, 0.6992647051811218),
    (62, 32, 32, 3, 0.003492647083476186, 0.9912377595901489, 0.6370432376861572, 0.47610294818878174, 0.6932598352432251),
    (63, 24, 20, 3, 0.2598039507865906, 0.8382353186607361, 0.5490196347236633, 0.4235294461250305, 0.6039215922355652),
    (63, 32, 32, 3, 0.25882354378700256, 0.8392156958580017, 0.5490196347236633, 0.41556376218795776, 0.6003676652908325),
)


def _q83g_sql() -> str:
    vals = ",\n      ".join(
        f"({d}, {h}, {w}, {c}, '{mn!r}', '{mx!r}', '{me!r}', '{pa!r}', '{pb!r}')"
        for (d, h, w, c, mn, mx, me, pa, pb) in _EVAL_GOLDEN_ROWS
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(out_h AS INTEGER) AS out_h,
           CAST(out_w AS INTEGER) AS out_w,
           CAST(channels AS INTEGER) AS channels,
           CAST(px_min AS DOUBLE) AS px_min,
           CAST(px_max AS DOUBLE) AS px_max,
           CAST(px_mean AS DOUBLE) AS px_mean,
           CAST(px_probe_a AS DOUBLE) AS px_probe_a,
           CAST(px_probe_b AS DOUBLE) AS px_probe_b
    FROM (VALUES {vals})
      AS t(doc_id, out_h, out_w, channels, px_min, px_max, px_mean,
           px_probe_a, px_probe_b)
    """


@query(
    "q83g_eval_golden",
    oracle=_q83g_sql() if _EVAL_GOLDEN_ROWS else None,
)
def q83g_eval_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    def ev(doc_id: int, arr: np.ndarray) -> list[tuple]:
        rows = []
        for out_h, out_w in _EVAL_SIZES:
            out = preprocess_for_eval(arr, out_h, out_w)
            rows.append(
                (
                    doc_id,
                    out_h,
                    out_w,
                    out.shape[2],
                    float(out.min()),
                    float(out.max()),
                    float(out.mean()),
                    float(out[out_h // 3, out_w // 3, 0]),
                    float(out[out_h // 2, out_w // 2, -1]),
                )
            )
        return rows

    return map_decoded(
        synthetic_corpus(spark, sf_dir, docs_filter=F.col("doc_id") < _GOLDEN_DOCS),
        ev,
        "doc_id bigint, out_h int, out_w int, channels int, "
        "px_min double, px_max double, px_mean double, "
        "px_probe_a double, px_probe_b double",
    )


# --------------------------------------------------------------------------
# q84 — the full ETL job round-trip (reference EP4, make_tf_record.py:
# 149-163): corpus -> dense labels -> seeded split -> 5-shard parquet
# write -> re-scan -> per-split audit. The oracle replays the label
# dictionary, md5-permutation split/shard and payload-size arithmetic in
# SQL, so shard layout, split membership, label mapping AND total payload
# bytes are all value-checked.
# --------------------------------------------------------------------------
def _etl_oracle() -> str:
    from tf_datapipeline_spark.sources.etl import sql_path_key

    key = sql_path_key(0)
    return f"""
    WITH corpus AS (
      SELECT 'corpus/' || lang || '/' || CAST(doc_id AS VARCHAR) || '.ppm' AS path,
             lang AS class_name, h, w
      FROM ({DIMS_SQL})
    ),
    dict AS (
      SELECT class_name, ROW_NUMBER() OVER (ORDER BY class_name) - 1 AS label
      FROM (SELECT DISTINCT class_name FROM corpus)
    ),
    rec AS (
      SELECT CASE WHEN ({key}) % 10 = 0 THEN 'validation' ELSE 'train' END AS split,
             (({key}) // 10) % 5 AS shard,
             d.label, c.h, c.w,
             {_PPM_BYTES_SQL} AS n_bytes
      FROM corpus c JOIN dict d USING (class_name)
    )
    SELECT split, COUNT(*) AS n_rows, COUNT(DISTINCT shard) AS n_shards,
           COUNT(DISTINCT label) AS n_labels,
           MIN(label) AS min_label, MAX(label) AS max_label,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM rec GROUP BY split
    """


@query("q84_etl_sharded_write", oracle=_etl_oracle())
def q84_etl_sharded_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = synthetic_corpus(spark, sf_dir)
    out_dir = scratch_dir(f"etl_{os.path.basename(os.path.normpath(sf_dir))}")
    write_sharded_records(corpus, out_dir)
    rec = read_records(spark, out_dir)
    return rec.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("shard").alias("n_shards"),
        F.countDistinct("label").alias("n_labels"),
        F.min("label").alias("min_label"),
        F.max("label").alias("max_label"),
        F.sum(F.length("image_encoded")).alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# q8h — NATIVE TFRecord container round-trip (reference S6/S7, the actual
# on-disk format of make_tf_record.py:126 / data_queue.py:10-36): the
# synthetic corpus is split/sharded with the same permutation key as q84,
# written as real framed tf.train.Example .tfrecord shards
# (sources/tfrecord.py: pure-stdlib CRC32C framing + protobuf wire
# format, reference shard naming make_tf_record.py:94-97), scanned back
# via binaryFile + mapInPandas parse, and audited with the same
# aggregate as the Parquet ETL twin — so framing, CRCs, protobuf
# encode/decode AND the shard fan-out are all value-checked against
# arithmetic the oracle re-derives from the documents table alone.
# --------------------------------------------------------------------------
@query("q8h_tfrecord_roundtrip", oracle=_etl_oracle())
def q8h_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.sources.etl import records_with_split
    from tf_datapipeline_spark.sources.tfrecord import (
        read_tfrecords,
        write_tfrecords,
    )

    import shutil

    corpus = synthetic_corpus(spark, sf_dir)
    out_dir = scratch_dir(f"tfr_{os.path.basename(os.path.normpath(sf_dir))}")
    shutil.rmtree(out_dir, ignore_errors=True)  # no stale shards across runs
    # materialize the manifest => every shard file is written before the scan
    write_tfrecords(records_with_split(corpus), out_dir).collect()
    rec = read_tfrecords(spark, out_dir)
    return rec.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("shard").alias("n_shards"),
        F.countDistinct("label").alias("n_labels"),
        F.min("label").alias("min_label"),
        F.max("label").alias("max_label"),
        F.sum(F.length("image_encoded")).alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# q85 — video-style frame sampling: the payload is treated as H frames of
# W*3 bytes (a raster row = a "frame"); keep every 3rd frame and reduce
# each to a byte-sum "feature". Real video decode would swap the
# frame-extraction lambda for an av/ffmpeg call (not in this container —
# the deterministic byte-slicing IS the decode here, and the Spark
# plumbing is identical). Oracle recomputes sampled frames cell-for-cell.
# --------------------------------------------------------------------------
@query(
    "q85_frame_sample",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    fr AS (
      SELECT d.doc_id, d.w, i.i AS frame_idx
      FROM dims d, LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) i
      WHERE i.i % 3 = 0
    ),
    b AS (
      SELECT f.doc_id, f.frame_idx, f.w,
             (3*f.frame_idx + 5*j.j + 11*c.c + f.doc_id) % 256 AS v
      FROM fr f,
           LATERAL (SELECT unnest(generate_series(0, f.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, frame_idx, w * 3 AS frame_n_bytes,
           CAST(SUM(v) AS BIGINT) AS byte_sum
    FROM b GROUP BY doc_id, frame_idx, w
    """,
)
def q85_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    def frames(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        return [
            (doc_id, frame_idx, arr[frame_idx].size, int(arr[frame_idx].sum()))
            for frame_idx in range(0, arr.shape[0], 3)
        ]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        frames,
        "doc_id bigint, frame_idx bigint, frame_n_bytes bigint, byte_sum bigint",
    )


# --------------------------------------------------------------------------
# q86 — audio feature extraction: per-window RMS energy over a synthetic
# PCM waveform (sawtooth: sample[t] = (doc_id*31 + t*17) % 256 - 128;
# 4 + doc_id % 7 windows of 256 samples). A real audio path would decode
# `binary` via soundfile/librosa (not in this container — clearly-marked
# deterministic fake; Spark plumbing, schema, and windowed reduction are
# the real thing). Oracle recomputes every sample.
# --------------------------------------------------------------------------
_WIN = 256


def synthetic_waveform(doc_id: int) -> np.ndarray:
    """STUB for audio decode: deterministic PCM stand-in (the container
    has no audio codec libraries). Returns int16-range samples shaped
    (n_windows * 256,)."""
    n = (4 + doc_id % 7) * _WIN
    t = np.arange(n, dtype=np.int64)
    return (doc_id * 31 + t * 17) % 256 - 128


@query(
    "q86_audio_rms",
    oracle=f"""
    WITH w AS (SELECT doc_id, 4 + doc_id % 7 AS n_windows FROM documents),
    win AS (
      SELECT doc_id, i.i AS window_idx
      FROM w, LATERAL (SELECT unnest(generate_series(0, w.n_windows - 1)) AS i) i
    ),
    s AS (
      SELECT doc_id, window_idx,
             ((doc_id*31 + (window_idx*{_WIN} + t.t)*17) % 256) - 128 AS v
      FROM win, LATERAL (SELECT unnest(generate_series(0, {_WIN - 1})) AS t) t
    )
    SELECT doc_id, window_idx, {_WIN} AS n_samples,
           sqrt(CAST(SUM(v*v) AS DOUBLE) / {_WIN}) AS rms
    FROM s GROUP BY doc_id, window_idx
    """,
)
def q86_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def rms(doc_id: int) -> list[tuple]:
        wave = synthetic_waveform(doc_id).reshape(-1, _WIN)
        energy = (wave * wave).sum(axis=1)
        return [
            (doc_id, window_idx, _WIN, float(np.sqrt(float(e) / _WIN)))
            for window_idx, e in enumerate(energy)
        ]

    return map_rows(
        docs, rms, "doc_id bigint, window_idx bigint, n_samples int, rms double"
    )


# --------------------------------------------------------------------------
# q87 — REAL binaryFile directory scan end-to-end: materialize a slice of
# the synthetic corpus as actual .ppm files on disk (the reference's
# directory-of-files layout, S1), scan it back through Spark's binaryFile
# source with path-derived labels, decode every payload, and report per
# class. The oracle re-derives the expected bytes/dims arithmetically —
# so the filesystem round-trip, glob filter, label regexp AND codec are
# all value-checked in the driver gate.
# --------------------------------------------------------------------------
_SCAN_DOCS = 64  # docs with doc_id < _SCAN_DOCS get written as files


@query(
    "q87_binaryfile_scan",
    oracle=f"""
    SELECT lang AS class_name, COUNT(*) AS n_files,
           CAST(SUM({_PPM_BYTES_SQL}) AS BIGINT) AS total_bytes,
           CAST(SUM(h * w) AS BIGINT) AS total_px
    FROM ({DIMS_SQL})
    WHERE doc_id < {_SCAN_DOCS}
    GROUP BY lang
    """,
)
def q87_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from tf_datapipeline_spark.sources.etl import scratch_dir
    from tf_datapipeline_spark.sources.images import scan_image_dir

    root = scratch_dir(
        f"bf_corpus_{os.path.basename(os.path.normpath(sf_dir))}/x"
    ).rsplit("/", 1)[0]
    shutil.rmtree(root, ignore_errors=True)
    slice_df = synthetic_corpus(spark, sf_dir).filter(
        F.regexp_extract("path", r"/(\d+)\.ppm$", 1).cast("long") < _SCAN_DOCS
    )

    def write_files(rows) -> None:
        # executor-side materialization: no row payload ever crosses the
        # driver (the shared local FS stands in for NFS/object storage on
        # a cluster — same assumption as tfrecord.write_tfrecords)
        for r in rows:
            rel = r.path.split("corpus/", 1)[1]
            os.makedirs(os.path.join(root, os.path.dirname(rel)), exist_ok=True)
            with open(os.path.join(root, rel), "wb") as f:
                f.write(bytes(r.content))

    slice_df.select("path", "content").foreachPartition(write_files)

    scanned = scan_image_dir(spark, root)

    def probe(cls: str, fmt: str, content: bytes) -> list[tuple]:
        arr = decode_image(bytes(content), fmt)
        return [(cls, len(content), arr.shape[0] * arr.shape[1])]

    decoded = map_rows(
        scanned.select("class_name", "image_format", "content"),
        probe,
        "class_name string, n_bytes bigint, n_px bigint",
    )
    return decoded.groupBy("class_name").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_px").alias("total_px"),
    )


# --------------------------------------------------------------------------
# q88 — record-table eval processing (the feed's executor stage in the
# driver gate): sharded ETL write -> re-scan -> fused decode + eval
# preprocess (central crop 0.875 + bilinear to 32x32, [0,1]) -> per-label
# rollup. Deterministic end to end (eval path has no RNG), but bilinear
# interpolation is not reasonably SQL-expressible -> rows-only check;
# repeated runs hash identically and tests pin the kernel invariants.
# --------------------------------------------------------------------------
@query("q88_eval_records")
def q88_eval_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imageops import preprocess_for_eval

    corpus = synthetic_corpus(spark, sf_dir)
    out_dir = scratch_dir(f"etl_{os.path.basename(os.path.normpath(sf_dir))}_eval")
    write_sharded_records(corpus, out_dir)
    rec = read_records(spark, out_dir).select("image_encoded", "image_format", "label")

    def ev(enc: bytes, fmt: str, label: int) -> list[tuple]:
        out = preprocess_for_eval(decode_image(bytes(enc), fmt), _AUG_H, _AUG_W)
        return [(label, float(out.mean()), float(out.min()), float(out.max()))]

    processed = map_rows(
        rec, ev, "label bigint, px_mean double, px_min double, px_max double"
    )
    return processed.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.round(F.avg("px_mean"), 6).alias("avg_px_mean"),
        F.min("px_min").alias("min_px"),
        F.max("px_max").alias("max_px"),
    )


# --------------------------------------------------------------------------
# q89 — nearest-neighbor resize with a VALUE-LEVEL oracle: decode each
# payload, resize to 16x16 with the real numpy kernel
# (imageops.resize_nearest), and reduce to per-image stats; the oracle
# replays the exact half-pixel-center index arithmetic
# (src = min(floor((i+0.5) * (src_dim/16)), src_dim-1)) over a SQL grid.
# This promotes the resize kernel (reference M4) from invariant-tested to
# oracle-checked. Bilinear stays rows-only (q83): its float interpolation
# is not reasonably SQL-reproducible.
# --------------------------------------------------------------------------
_RSZ = 16


@query(
    "q89_resize_nearest",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    grid AS (
      SELECT d.doc_id, d.h, d.w,
             LEAST(CAST(FLOOR((i.i + 0.5) * (d.h / {_RSZ}.0)) AS BIGINT), d.h - 1) AS si,
             LEAST(CAST(FLOOR((j.j + 0.5) * (d.w / {_RSZ}.0)) AS BIGINT), d.w - 1) AS sj,
             c.c
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, {_RSZ - 1})) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, {_RSZ - 1})) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id,
           MIN((3*si + 5*sj + 11*c + doc_id) % 256) AS px_min,
           MAX((3*si + 5*sj + 11*c + doc_id) % 256) AS px_max,
           CAST(SUM((3*si + 5*sj + 11*c + doc_id) % 256) AS BIGINT) AS px_sum,
           COUNT(*) AS n_px
    FROM grid GROUP BY doc_id
    """,
)
def q89_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imageops import resize_nearest

    def rsz(doc_id: int, arr: np.ndarray) -> list[tuple]:
        out = resize_nearest(arr, _RSZ, _RSZ).astype(np.int64)
        return [(doc_id, int(out.min()), int(out.max()), int(out.sum()), int(out.size))]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        rsz,
        "doc_id bigint, px_min bigint, px_max bigint, px_sum bigint, n_px bigint",
    )


# --------------------------------------------------------------------------
# q8a — per-channel statistics (channel slicing): decode, split the
# channel axis, reduce each channel independently — the normalization-
# constant computation (per-channel mean/std) every image pipeline runs
# once per corpus. Oracle recomputes each channel's cells in SQL.
# --------------------------------------------------------------------------
@query(
    "q8a_channel_stats",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    px AS (
      SELECT d.doc_id, c.c AS channel,
             (3*i.i + 5*j.j + 11*c.c + d.doc_id) % 256 AS v
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, channel, MIN(v) AS px_min, MAX(v) AS px_max,
           CAST(SUM(v) AS BIGINT) AS px_sum, COUNT(*) AS n_px
    FROM px GROUP BY doc_id, channel
    """,
)
def q8a_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def chan(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        rows = []
        for ch in range(arr.shape[2]):
            sl = arr[:, :, ch]
            rows.append(
                (doc_id, ch, int(sl.min()), int(sl.max()), int(sl.sum()), int(sl.size))
            )
        return rows

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        chan,
        "doc_id bigint, channel int, px_min bigint, px_max bigint, "
        "px_sum bigint, n_px bigint",
    )


# --------------------------------------------------------------------------
# q8e — container-format sniffing over a MIXED binary corpus: each doc is
# encoded as PPM / PNG / JPEG by doc_id % 3, and the engine re-detects
# the format from payload magic bytes alone (PPM 'P6', PNG \x89PNG, JPEG
# \xff\xd8\xff) — the dispatch step any heterogeneous 100 TB media lake
# needs before routing to a decoder. The per-format doc filter is pushed
# BELOW the generator (each branch encodes only its third). The oracle
# derives the expected format from the construction rule and asserts the
# sniff matched on every row (n_sniff_match == n_docs) — a genuine check
# that executor-side bytes carry the right headers.
# --------------------------------------------------------------------------
_SNIFF_FMTS = ("ppm", "png", "jpeg")


@query(
    "q8e_format_sniff",
    oracle="""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
           ELSE 'jpeg' END AS image_format,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_sniff_match
    FROM documents GROUP BY 1
    """,
)
def q8e_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        synthetic_corpus(
            spark, sf_dir, fmt, docs_filter=F.col("doc_id") % 3 == k
        )
        for k, fmt in enumerate(_SNIFF_FMTS)
    ]
    mixed = parts[0].unionByName(parts[1]).unionByName(parts[2])
    magic = F.hex(F.substring("content", 1, 3))
    sniffed = (
        F.when(magic.startswith("5036"), "ppm")
        .when(magic == "89504E", "png")
        .when(magic == "FFD8FF", "jpeg")
        .otherwise("unknown")
    )
    return mixed.groupBy("image_format").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((sniffed == F.col("image_format")).cast("bigint")).alias(
            "n_sniff_match"
        ),
    )


# --------------------------------------------------------------------------
# q8f — perceptual image hash (aHash): decode, nearest-downsample to 8x8
# with the real kernel, channel-sum to gray, threshold each cell against
# the 64-cell mean, pack 64 bits — the content-addressable fingerprint
# image dedup pipelines bucket on (near-identical images differ in a few
# bits; exact bucketing on the hash + hamming verify is the image twin of
# MinHash-LSH). Determinism: gray values and the 64x threshold comparison
# are exact integers (64*g > sum avoids any division); bits pack via
# POWER(2,k) which is exact for k<=31 in either engine (hash split into
# lo/hi 32-bit halves to stay inside BIGINT). The oracle replays decode +
# resize arithmetically over a SQL grid — the whole binary path is
# value-checked.
# --------------------------------------------------------------------------
_AH = 8


def _ahash_oracle() -> str:
    si = f"LEAST(CAST(FLOOR((ti.i + 0.5) * (d.h / {_AH}.0)) AS BIGINT), d.h - 1)"
    sj = f"LEAST(CAST(FLOOR((tj.j + 0.5) * (d.w / {_AH}.0)) AS BIGINT), d.w - 1)"
    gray = " + ".join(
        f"((3*{si} + 5*{sj} + {11 * c} + d.doc_id) % 256)" for c in range(3)
    )
    return f"""
    WITH dims AS ({DIMS_SQL}),
    grid AS (
      SELECT d.doc_id, (ti.i * {_AH} + tj.j) AS bit_idx, {gray} AS gray
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, {_AH - 1})) AS i) ti,
           LATERAL (SELECT unnest(generate_series(0, {_AH - 1})) AS j) tj
    ),
    tot AS (
      SELECT doc_id, SUM(gray) AS g_sum FROM grid GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(SUM(CASE WHEN 64 * g.gray > t.g_sum THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bits,
           CAST(SUM(CASE WHEN 64 * g.gray > t.g_sum AND g.bit_idx < 32
                    THEN CAST(POWER(2.0, g.bit_idx) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN 64 * g.gray > t.g_sum AND g.bit_idx >= 32
                    THEN CAST(POWER(2.0, g.bit_idx - 32) AS BIGINT) ELSE 0 END)
                AS BIGINT)
             AS hash_hi
    FROM grid g JOIN tot t ON t.doc_id = g.doc_id
    GROUP BY g.doc_id
    """


def _ahash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bits, hash_lo, hash_hi) per image, localCheckpointed
    per invocation so q8i's band and verify arms share one decode + hash
    pass (the binary decode dominates the family's cost)."""
    from tf_datapipeline_spark.functions.imageops import resize_nearest

    def ahash(doc_id: int, arr: np.ndarray) -> list[tuple]:
        gray = resize_nearest(arr.astype(np.int64), _AH, _AH).sum(axis=2)
        total = int(gray.sum())
        bits = (64 * gray.flatten() > total)
        lo = sum(1 << k for k in range(32) if bits[k])
        hi = sum(1 << (k - 32) for k in range(32, 64) if bits[k])
        return [(doc_id, int(bits.sum()), lo, hi)]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        ahash,
        "doc_id bigint, n_bits bigint, hash_lo bigint, hash_hi bigint",
    ).localCheckpoint()


@query("q8f_image_ahash", oracle=_ahash_oracle())
def q8f_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ahash_table(spark, sf_dir)


# --------------------------------------------------------------------------
# q8i — IMAGE NEAR-DUP pairs: the image twin of MinHash-LSH dedup (q63),
# run on q8f's 64-bit aHash, through the same band index and band pair
# join (dedup.band_index / band_pairs). The 64 bits split into 4 x
# 16-bit bands; docs sharing any band's exact value become candidates
# (one equi-join on (band, value) — never all-pairs), then the exact
# hamming distance (bit_count of xor, lo+hi halves), scored from the
# hashes the index carries, verifies candidates at <= _AHD_T.
# By pigeonhole the banding is EXACT, not approximate: <= 3 flipped bits
# cannot touch all 4 bands, so every qualifying pair shares a band.
# Hot buckets (> _AHD_CAP docs — constant-color thumbnails and the like
# concentrate there) are skipped by the band index's deterministic cap,
# which the oracle applies as a GROUP BY ... HAVING; the cap does not
# bind at the test data's scales (largest observed bucket: 123 at sf0.01
# vs cap 256), and a test lowers it until it binds.
# --------------------------------------------------------------------------
_AHD_CAP = 256
_AHD_T = 3

_AHD_BANDS_CASE = (
    "CASE {b} WHEN 0 THEN hash_lo % 65536 WHEN 1 THEN hash_lo // 65536 "
    "WHEN 2 THEN hash_hi % 65536 ELSE hash_hi // 65536 END"
)


def _image_near_dup_oracle() -> str:
    band_val = _AHD_BANDS_CASE.format(b="b.b")
    ham = (
        "bit_count(xor(ha.hash_lo, hb.hash_lo))"
        " + bit_count(xor(ha.hash_hi, hb.hash_hi))"
    )
    return f"""
    WITH h AS ({_ahash_oracle()}),
    bands AS (
      SELECT doc_id, b.b AS band, {band_val} AS val
      FROM h, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) b
    ),
    ok AS (
      SELECT band, val FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= {_AHD_CAP}
    ),
    okb AS (
      SELECT bands.doc_id, bands.band, bands.val
      FROM bands JOIN ok USING (band, val)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM okb a
      JOIN okb b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, CAST({ham} AS INT) AS hamming
    FROM cand c
    JOIN h ha ON ha.doc_id = c.doc_a
    JOIN h hb ON hb.doc_id = c.doc_b
    WHERE {ham} <= {_AHD_T}
    """


@query("q8i_image_near_dup", oracle=_image_near_dup_oracle())
def q8i_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.operators.dedup import band_index, band_pairs

    h = _ahash_table(spark, sf_dir).select("doc_id", "hash_lo", "hash_hi")
    bands = [
        [F.expr(f"{half} {op} 65536")]
        for half in ("hash_lo", "hash_hi")
        for op in ("%", "div")
    ]
    ham = F.expr(
        "CAST(bit_count(a.hash_lo ^ b.hash_lo) + bit_count(a.hash_hi ^ b.hash_hi)"
        " AS INT)"
    )
    return band_pairs(band_index(h, bands, _AHD_CAP), hamming=ham).filter(
        F.col("hamming") <= _AHD_T
    )


# --------------------------------------------------------------------------
# q8g — audio zero-crossing rate + peak per window: the second classic
# time-domain audio feature pair (ZCR tracks noisiness/pitch, peak tracks
# clipping headroom) over the same synthetic PCM windows as q86. ZCR
# counts strict sign alternations between consecutive samples (zeros
# carry the previous sign, i.e. only +/- to -/+ transitions count) — all
# integer arithmetic, value-level oracle.
# --------------------------------------------------------------------------
@query(
    "q8g_audio_zcr",
    oracle=f"""
    WITH w AS (SELECT doc_id, 4 + doc_id % 7 AS n_windows FROM documents),
    win AS (
      SELECT doc_id, i.i AS window_idx
      FROM w, LATERAL (SELECT unnest(generate_series(0, w.n_windows - 1)) AS i) i
    ),
    s AS (
      SELECT doc_id, window_idx, t.t AS t,
             ((doc_id*31 + (window_idx*{_WIN} + t.t)*17) % 256) - 128 AS v
      FROM win, LATERAL (SELECT unnest(generate_series(0, {_WIN - 1})) AS t) t
    ),
    sgn AS (
      SELECT doc_id, window_idx, t, v,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sg
      FROM s
    ),
    carried AS (
      SELECT doc_id, window_idx, t, v,
             MAX(CASE WHEN sg <> 0 THEN t END)
               OVER (PARTITION BY doc_id, window_idx ORDER BY t) AS last_sig_t
      FROM sgn
    ),
    eff AS (
      SELECT c.doc_id, c.window_idx, c.t, c.v,
             CASE WHEN b.v > 0 THEN 1 WHEN b.v < 0 THEN -1 ELSE 0 END AS esg
      FROM carried c
      LEFT JOIN s b ON b.doc_id = c.doc_id AND b.window_idx = c.window_idx
                   AND b.t = c.last_sig_t
    ),
    lagd AS (
      SELECT doc_id, window_idx, v,
             esg * LAG(esg) OVER (PARTITION BY doc_id, window_idx
                                  ORDER BY t) AS sg_prod
      FROM eff
    )
    SELECT doc_id, window_idx,
           CAST(SUM(CASE WHEN sg_prod = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crossings,
           MAX(ABS(v)) AS peak
    FROM lagd
    GROUP BY doc_id, window_idx
    """,
)
def q8g_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def zcr(doc_id: int) -> list[tuple]:
        rows = []
        wave = synthetic_waveform(doc_id).reshape(-1, _WIN)
        for window_idx, win in enumerate(wave):
            # zeros carry the previous nonzero sign
            eff = np.sign(win)
            for t in range(1, len(eff)):
                if eff[t] == 0:
                    eff[t] = eff[t - 1]
            crossings = int(np.sum(eff[1:] * eff[:-1] == -1))
            rows.append((doc_id, window_idx, crossings, int(np.abs(win).max())))
        return rows

    return map_rows(
        docs,
        zcr,
        "doc_id bigint, window_idx bigint, n_crossings bigint, peak bigint",
    )


# --------------------------------------------------------------------------
# q8k — SCENE-CHANGE detection (temporal media op): adjacent-frame mean
# absolute byte difference with a cut threshold — the standard
# shot-boundary heuristic every video-ingest pipeline runs to pick
# keyframes for sampling/dedup. Frames follow q85's model (raster row =
# frame); a real decoder would swap the byte-slicing lambda for
# av/ffmpeg exactly as q85 documents. All per-frame sums are exact
# integers; the mean is one IEEE division; the oracle replays every
# cell arithmetically, so the whole decode→diff→threshold path is
# value-checked. Cost shape: frame diffs are computed inside the decode
# pass (one Arrow batch per task, no shuffle); only the per-frame
# feature rows leave the UDF.
# --------------------------------------------------------------------------
_SCENE_CUT = 6.0


@query(
    "q8k_scene_change",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    fr AS (
      SELECT d.doc_id, d.w, i.i AS frame_idx
      FROM dims d, LATERAL (SELECT unnest(generate_series(1, d.h - 1)) AS i) i
    ),
    b AS (
      SELECT f.doc_id, f.frame_idx, f.w,
             ABS(((3*f.frame_idx + 5*j.j + 11*c.c + f.doc_id) % 256)
                 - ((3*(f.frame_idx - 1) + 5*j.j + 11*c.c + f.doc_id) % 256))
               AS d
      FROM fr f,
           LATERAL (SELECT unnest(generate_series(0, f.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, frame_idx,
           CAST(SUM(d) AS BIGINT) AS diff_sum,
           CAST(SUM(d) AS DOUBLE) / (w * 3) AS mean_diff,
           CASE WHEN CAST(SUM(d) AS DOUBLE) / (w * 3) > {_SCENE_CUT}
                THEN 1 ELSE 0 END AS is_cut
    FROM b GROUP BY doc_id, frame_idx, w
    """,
)
def q8k_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    def diffs(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        d = np.abs(arr[1:] - arr[:-1]).sum(axis=(1, 2))
        n = arr.shape[1] * 3
        rows = []
        for k, ds in enumerate(d):
            mean = float(ds) / n
            rows.append((doc_id, k + 1, int(ds), mean, 1 if mean > _SCENE_CUT else 0))
        return rows

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        diffs,
        "doc_id bigint, frame_idx bigint, diff_sum bigint, "
        "mean_diff double, is_cut int",
    )


# --------------------------------------------------------------------------
# q8l — duplicate-KEYFRAME detection (video near-dup): keyframes (frame
# 0 + every q8k scene cut) are fingerprinted with exact integer features
# (width, byte sum, byte square-sum — collision-safe on this corpus and
# computable identically in both engines, unlike a float or
# transcendental hash), then identical fingerprints are grouped ACROSS
# documents — the cross-video duplicate-segment detector that video
# dedup runs after shot segmentation (the image twin is q8i; this is
# the temporal-media member of the dedup family). One decode pass emits
# only keyframe fingerprint rows; the group-by shuffles fingerprints,
# never pixels. Output is one row per duplicated fingerprint
# (HAVING > 1), fully oracle-checked.
# --------------------------------------------------------------------------
@query(
    "q8l_keyframe_dedup",
    oracle=f"""
    WITH dims AS ({DIMS_SQL}),
    fr AS (
      SELECT d.doc_id, d.w, i.i AS frame_idx
      FROM dims d, LATERAL (SELECT unnest(generate_series(1, d.h - 1)) AS i) i
    ),
    b AS (
      SELECT f.doc_id, f.frame_idx, f.w,
             ABS(((3*f.frame_idx + 5*j.j + 11*c.c + f.doc_id) % 256)
                 - ((3*(f.frame_idx - 1) + 5*j.j + 11*c.c + f.doc_id) % 256))
               AS d
      FROM fr f,
           LATERAL (SELECT unnest(generate_series(0, f.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    ),
    cuts AS (
      SELECT doc_id, frame_idx FROM b
      GROUP BY doc_id, frame_idx, w
      HAVING CAST(SUM(d) AS DOUBLE) / (w * 3) > {_SCENE_CUT}
    ),
    kf AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx, w FROM dims
      UNION ALL
      SELECT c.doc_id, c.frame_idx, d.w
      FROM cuts c JOIN dims d ON d.doc_id = c.doc_id
    ),
    cells AS (
      SELECT k.doc_id, k.frame_idx, k.w,
             (3*k.frame_idx + 5*j.j + 11*c.c + k.doc_id) % 256 AS v
      FROM kf k,
           LATERAL (SELECT unnest(generate_series(0, k.w - 1)) AS j) j,
           (SELECT unnest([0, 1, 2]) AS c) c
    ),
    fp AS (
      SELECT doc_id, frame_idx, w,
             CAST(SUM(v) AS BIGINT) AS byte_sum,
             CAST(SUM(v * v) AS BIGINT) AS byte_sqsum
      FROM cells GROUP BY 1, 2, 3
    )
    SELECT w, byte_sum, byte_sqsum,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM fp
    GROUP BY 1, 2, 3
    HAVING COUNT(*) > 1
    """,
)
def q8l_keyframe_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    def keyframes(doc_id: int, arr: np.ndarray) -> list[tuple]:
        arr = arr.astype(np.int64)
        w = arr.shape[1]
        n = w * 3
        d = np.abs(arr[1:] - arr[:-1]).sum(axis=(1, 2))
        idxs = [0] + [k + 1 for k, ds in enumerate(d) if ds / n > _SCENE_CUT]
        return [
            (doc_id, k, w, int(arr[k].sum()), int((arr[k] * arr[k]).sum()))
            for k in idxs
        ]

    fp = map_decoded(
        synthetic_corpus(spark, sf_dir),
        keyframes,
        "doc_id bigint, frame_idx bigint, w bigint, "
        "byte_sum bigint, byte_sqsum bigint",
    )
    return (
        fp.groupBy("w", "byte_sum", "byte_sqsum")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_frames") > 1)
    )


# --------------------------------------------------------------------------
# q8m — AUDIO SPECTROGRAM via a REAL FFT (numpy rfft inside mapInPandas):
# the frequency-domain companion to q86/q8g's time-domain features, and
# the one multimodal op where the Python path is genuinely the right
# tool — no built-in expression computes a 256-point DFT, and the Arrow
# batch shape (one rfft matrix per batch, vectorized over windows) is
# exactly how a production feature extractor runs. The synthetic PCM is
# an integer-QUANTIZED two-harmonic cosine (fundamental f = 3 + doc_id %
# 13 cycles/window at amplitude 100 - 3*window_idx, second harmonic 2f
# at amplitude 30; quantization floor(x + 0.5) — half-away, identical on
# both engines, and enumerably NEVER within 2.4e-4 of a flip boundary,
# pinned in tests), so the spectrum is known analytically while the FFT
# still runs on real float math. The oracle cross-checks the FFT through
# three integer-exact contracts — dominant_bin == f (argmax over 128
# bins; spectral gap ~6000 vs libm ulp noise), dc_sum == SUM(v) (bin 0),
# and energy == SUM(v^2) via PARSEVAL from the float spectrum (absolute
# FFT error ~1e-9 << 0.5, so the round is exact) — i.e. DuckDB verifies
# numpy's transform numerically, not a copied golden.
#
# Scale: one narrow doc_id scan, zero shuffle — the decode/FFT/feature
# pass is embarrassingly parallel per Arrow batch (the mapInPandas
# output is feature rows only, never samples), the same shape that runs
# per-object on a 100 TB audio corpus. A real deployment swaps
# `spectro_waveform` for soundfile/librosa decode behind the identical
# signature (codec libs absent in this container — q86's documented
# stand-in contract).
# --------------------------------------------------------------------------
_SPEC_HARM2 = 30  # second-harmonic amplitude


def spectro_waveform(doc_id: int, window_idx: int) -> np.ndarray:
    """STUB for audio decode (see q86): integer-quantized two-harmonic
    cosine, one _WIN-sample window. Angles are reduced mod one period
    BEFORE the trig call ((f*t) % _WIN) so both engines' cos sees the
    same small argument."""
    f = 3 + doc_id % 13
    amp = 100 - 3 * window_idx
    t = np.arange(_WIN, dtype=np.int64)
    a1 = 2.0 * np.pi * ((f * t) % _WIN) / _WIN
    a2 = 2.0 * np.pi * ((2 * f * t) % _WIN) / _WIN
    return np.floor(amp * np.cos(a1) + 0.5) + np.floor(
        _SPEC_HARM2 * np.cos(a2) + 0.5
    )


@query(
    "q8m_audio_spectrogram",
    oracle=f"""
    WITH w AS (SELECT doc_id, 4 + doc_id % 7 AS n_windows,
                      3 + doc_id % 13 AS f FROM documents),
    win AS (
      SELECT doc_id, f, i.i AS window_idx, 100 - 3*i.i AS amp
      FROM w, LATERAL (SELECT unnest(generate_series(0, w.n_windows - 1)) AS i) i
    ),
    s AS (
      SELECT doc_id, f, window_idx,
             CAST(FLOOR(amp * COS(2*PI() * ((f * t.t) % {_WIN}) / {_WIN})
                        + 0.5) AS BIGINT)
             + CAST(FLOOR({_SPEC_HARM2} * COS(2*PI() * ((2 * f * t.t) % {_WIN})
                          / {_WIN}) + 0.5) AS BIGINT) AS v
      FROM win, LATERAL (SELECT unnest(generate_series(0, {_WIN - 1})) AS t) t
    )
    SELECT doc_id, window_idx, {_WIN} AS n_samples,
           CAST(MAX(f) AS INTEGER) AS dominant_bin,
           CAST(SUM(v) AS BIGINT) AS dc_sum,
           CAST(SUM(v * v) AS BIGINT) AS energy
    FROM s GROUP BY doc_id, window_idx
    """,
)
def q8m_audio_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Vectorized batch path: one rfft over a (rows, 256) matrix per Arrow
    # batch instead of one python-loop rfft per window (sf10 measured the
    # loop at 139s warm — the matrix form is the same transform ~10x
    # cheaper). Bit-compatibility with spectro_waveform: the cosine
    # tables index by j = (f*t) % 256, and costab[j] is computed with the
    # IDENTICAL float expression (2.0*pi*j/256), so every sample — and
    # therefore every FFT input — matches the scalar function exactly
    # (pinned in tests/test_properties.py).
    t = np.arange(_WIN, dtype=np.int64)
    costab = np.cos(2.0 * np.pi * np.arange(_WIN, dtype=np.int64) / _WIN)

    def spectro(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            nw = 4 + ids % 7
            doc = np.repeat(ids, nw)  # one row per (doc, window)
            widx = np.concatenate([np.arange(n) for n in nw])
            f = (3 + doc % 13)[:, None]
            amp = (100 - 3 * widx)[:, None].astype(np.float64)
            v = np.floor(amp * costab[(f * t) % _WIN] + 0.5) + np.floor(
                _SPEC_HARM2 * costab[(2 * f * t) % _WIN] + 0.5
            )
            spec = np.fft.rfft(v, axis=1)
            mag = np.abs(spec)
            dominant = np.argmax(mag[:, 1:129], axis=1) + 1
            parseval = (
                mag[:, 0] ** 2
                + 2.0 * (mag[:, 1:128] ** 2).sum(axis=1)
                + mag[:, 128] ** 2
            ) / _WIN
            yield pd.DataFrame(
                {
                    "doc_id": doc,
                    "window_idx": widx.astype(np.int64),
                    "n_samples": np.full(len(doc), _WIN, dtype=np.int32),
                    "dominant_bin": dominant.astype(np.int32),
                    "dc_sum": np.round(spec[:, 0].real).astype(np.int64),
                    "energy": np.round(parseval).astype(np.int64),
                }
            )

    return docs.mapInPandas(
        spectro,
        schema="doc_id bigint, window_idx bigint, n_samples int, "
        "dominant_bin int, dc_sum bigint, energy bigint",
    )


# --------------------------------------------------------------------------
# q8n — MEDIA-LAKE validation AUDIT: the quarantine pass a 100 TB binary
# ingest runs before handing payloads to training — over the MIXED
# 3-format corpus (q8e's construction), REALLY decode every payload
# through the dispatched codec (PPM raster / PNG inflate+unfilter /
# JPEG huffman+DCT) and report, per format: docs seen, magic-byte sniff
# agreement, decode-probe successes (decoded height/width/channels must
# equal the corpus's generative rule), and the decoded pixel volume.
# The oracle derives every figure from the construction rule alone, so
# a corrupt encoder, a codec regression, or broken Arrow plumbing
# mismatches the count columns instantly (the q8e/q80 device, composed
# over all three codecs in one pass).
#
# Scale (100 TB): one mapInPandas pass over the payload column — the
# decode never leaves the executor, nothing but the 3-row audit
# shuffles, and per-task memory is one Arrow batch of payloads. A real
# deployment points the same probe at its object-store manifest and
# quarantines rows where ok=0 (here the oracle asserts there are none).
# --------------------------------------------------------------------------
@query(
    "q8n_media_audit",
    # the JPEG third uses the flat-block corpus's 8-multiple dims rule
    # (sources/images.py synthetic_jpeg_dims); PPM/PNG use the gradient
    # corpus rule — the oracle replays both generative formulas
    oracle=f"""
    SELECT image_format,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sniff_match,
           CAST(COUNT(*) AS BIGINT) AS n_decode_ok,
           CAST(SUM(3 * h * w) AS BIGINT) AS total_pixels
    FROM (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
             ELSE 'jpeg' END AS image_format,
             CASE WHEN doc_id % 3 = 2 THEN {SYNTHETIC_JPEG_DIMS_SQL[0]}
                  ELSE {SYNTHETIC_DIMS_SQL[0]} END AS h,
             CASE WHEN doc_id % 3 = 2 THEN {SYNTHETIC_JPEG_DIMS_SQL[1]}
                  ELSE {SYNTHETIC_DIMS_SQL[1]} END AS w
      FROM documents
    )
    GROUP BY 1
    """,
)
def q8n_media_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        synthetic_corpus(
            spark, sf_dir, fmt, docs_filter=F.col("doc_id") % 3 == k
        )
        for k, fmt in enumerate(_SNIFF_FMTS)
    ]
    mixed = parts[0].unionByName(parts[1]).unionByName(parts[2])

    def audit(path: str, fmt: str, content: bytes) -> list[tuple]:
        doc_id = _doc_id_of(path)
        payload = bytes(content)
        magic = payload[:3]
        sniffed = (
            "ppm"
            if magic[:2] == b"P6"
            else "png"
            if magic == b"\x89PN"
            else "jpeg"
            if magic == b"\xff\xd8\xff"
            else "unknown"
        )
        dims = synthetic_jpeg_dims if fmt == "jpeg" else synthetic_dims
        want_h, want_w = dims(doc_id)
        try:
            arr = decode_image(payload, fmt)
            ok = int(
                arr.shape[0] == want_h and arr.shape[1] == want_w and arr.shape[2] == 3
            )
            pix = int(arr.shape[0] * arr.shape[1] * arr.shape[2])
        except Exception:
            ok, pix = 0, 0
        return [(fmt, int(sniffed == fmt), ok, pix)]

    probed = map_rows(
        mixed.select("path", "image_format", "content"),
        audit,
        "image_format string, sniff_match bigint, decode_ok bigint, pix bigint",
    )
    return probed.groupBy("image_format").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("sniff_match").alias("n_sniff_match"),
        F.sum("decode_ok").alias("n_decode_ok"),
        F.sum("pix").alias("total_pixels"),
    )


# --------------------------------------------------------------------------
# q8o — CROSS-CODEC TRANSCODE AUDIT: re-encode the whole PPM
# corpus as PNG inside one mapInPandas pass (decode raster -> PNG encode
# -> PNG decode -> pixel-array equality) and report corpus-level
# losslessness — the migration job a media lake runs before switching
# storage codecs, and the only operator that value-checks ENCODE+DECODE
# of two codecs composed end-to-end at corpus scale (q8b/q8d pin the
# codecs separately). The oracle derives every figure from the corpus
# construction rule (the q8n device): if any byte of either codec, the
# equality check, or the Arrow plumbing regresses, n_lossless drops and
# the hash mismatches.
#
# Scale (100 TB): embarrassingly parallel single pass; only a row of
# three counters per doc leaves the UDF (summed by the partial
# aggregate); per-task memory is one batch of payloads. The transcode target writes would stream to
# the object store from the same pass in production.
# --------------------------------------------------------------------------
@query(
    "q8o_transcode_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_lossless,
           CAST(SUM(3 * ({SYNTHETIC_DIMS_SQL[0]}) * ({SYNTHETIC_DIMS_SQL[1]}))
                AS BIGINT) AS total_pixels
    FROM documents
    """,
)
def q8o_transcode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imagecodec import encode_png

    corpus = synthetic_corpus(spark, sf_dir, "ppm")

    def transcode(content: bytes) -> list[tuple]:
        try:
            src = decode_image(bytes(content), "ppm")
            out = decode_image(encode_png(src), "png")
        except Exception:
            return [(1, 0, 0)]
        lossless = np.array_equal(src, out)
        return [(1, int(lossless), int(out.size) if lossless else 0)]

    probed = map_rows(
        corpus.select("content"), transcode, "n bigint, lossless bigint, pix bigint"
    )
    return probed.agg(
        F.sum("n").alias("n_docs"),
        F.sum("lossless").alias("n_lossless"),
        F.sum("pix").alias("total_pixels"),
    )


# --------------------------------------------------------------------------
# q8p — DCT PERCEPTUAL HASH (pHash): the frequency-domain
# image fingerprint one rung above q8f's aHash — resize to 32x32, gray,
# 2-D DCT, keep the top-left 8x8 frequency block, threshold each
# coefficient against the low-median of the 63 AC coefficients, pack 64
# bits. pHash survives brightness/contrast shifts aHash does not
# (coefficients are compared to their own median, so any monotone
# global remap that preserves coefficient ORDER leaves the hash
# unchanged), which is why production image-dedup ladders run both.
#
# Exactness device: the DCT basis is QUANTIZED to integers
# (round(cos * 2^14), generated ONCE in Python and inlined as literals
# into both engines), so the whole transform is exact BIGINT
# arithmetic — two staged matrix products (B·G then ·B^T), a 63-value
# order statistic, integer comparisons, integer bit packing. No float
# enters the pipeline at all; the quantization changes WHICH hash is
# computed (a frozen contract, like q75's codebook), not its
# determinism. |coeff| <= 32·16384·765·32·16384 ~ 2.1e14 — well inside
# BIGINT.
#
# Spark shape (100 TB): one mapInPandas decode pass (the family's
# unavoidable cost — shared batch numpy: resize + two int64 GEMMs per
# image); the oracle replays the identical arithmetic over a SQL grid
# from the synthetic-pixel formula, so decode + resize + DCT +
# median + packing are all value-checked. The median window partitions
# by doc_id over exactly 64 rows — per-doc metadata, no skew.
# --------------------------------------------------------------------------
_PH = 32  # resize grid
_PH_F = 8  # retained frequencies per axis
_PH_SCALE = 16384  # 2^14 basis quantization

_PHASH_BASIS = [
    [
        round(
            math.cos(math.pi * (2 * i + 1) * u / (2 * _PH)) * _PH_SCALE
        )
        for i in range(_PH)
    ]
    for u in range(_PH_F)
]


def _phash_oracle() -> str:
    si = f"LEAST(CAST(FLOOR((ti.i + 0.5) * (d.h / {_PH}.0)) AS BIGINT), d.h - 1)"
    sj = f"LEAST(CAST(FLOOR((tj.j + 0.5) * (d.w / {_PH}.0)) AS BIGINT), d.w - 1)"
    gray = " + ".join(
        f"((3*{si} + 5*{sj} + {11 * c} + d.doc_id) % 256)" for c in range(3)
    )
    basis_rows = ", ".join(
        f"({u}, {i}, {_PHASH_BASIS[u][i]})"
        for u in range(_PH_F)
        for i in range(_PH)
    )
    return f"""
    WITH dims AS ({DIMS_SQL}),
    pgrid AS (
      SELECT d.doc_id, ti.i AS gi, tj.j AS gj, {gray} AS gray
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, {_PH - 1})) AS i) ti,
           LATERAL (SELECT unnest(generate_series(0, {_PH - 1})) AS j) tj
    ),
    basis(u, i, b) AS (VALUES {basis_rows}),
    m1 AS (
      SELECT g.doc_id, ba.u, g.gj AS j,
             CAST(SUM(ba.b * g.gray) AS BIGINT) AS s
      FROM pgrid g JOIN basis ba ON ba.i = g.gi
      GROUP BY 1, 2, 3
    ),
    dct AS (
      SELECT m.doc_id, m.u, bb.u AS v,
             CAST(SUM(m.s * bb.b) AS BIGINT) AS coeff
      FROM m1 m JOIN basis bb ON bb.i = m.j
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT doc_id, coeff AS med FROM (
        SELECT doc_id, coeff,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY coeff) AS rn
        FROM dct WHERE NOT (u = 0 AND v = 0)
      ) x WHERE rn = {(_PH_F * _PH_F - 1 + 1) // 2}
    ),
    pbits AS (
      SELECT d.doc_id, (d.u * {_PH_F} + d.v) AS bit_idx,
             CASE WHEN d.coeff > m.med THEN 1 ELSE 0 END AS bit
      FROM dct d JOIN med m ON m.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(SUM(bit) AS BIGINT) AS n_bits,
           CAST(SUM(CASE WHEN bit = 1 AND bit_idx < 32
                    THEN CAST(POWER(2.0, bit_idx) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN bit = 1 AND bit_idx >= 32
                    THEN CAST(POWER(2.0, bit_idx - 32) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS hash_hi
    FROM pbits GROUP BY doc_id
    """


@query("q8p_image_phash", oracle=_phash_oracle())
def q8p_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tf_datapipeline_spark.functions.imageops import resize_nearest

    basis = np.array(_PHASH_BASIS, dtype=np.int64)  # (8, 32)

    def phash(doc_id: int, arr: np.ndarray) -> list[tuple]:
        gray = resize_nearest(arr.astype(np.int64), _PH, _PH).sum(axis=2)
        coeffs = (basis @ gray @ basis.T).flatten()  # u-major
        # low median of the 63 AC coeffs: rank FLOOR((63+1)/2)=32
        med = int(np.sort(coeffs[1:])[31])
        bits = coeffs > med
        lo = sum(1 << k for k in range(32) if bits[k])
        hi = sum(1 << (k - 32) for k in range(32, 64) if bits[k])
        return [(doc_id, int(bits.sum()), lo, hi)]

    return map_decoded(
        synthetic_corpus(spark, sf_dir),
        phash,
        "doc_id bigint, n_bits bigint, hash_lo bigint, hash_hi bigint",
    )
