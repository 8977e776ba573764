"""Image-corpus sources.

Two ways to obtain the directory-of-files corpus the reference scans
(reference: get_filenames_and_classes, generator.py:8-34):

1. `scan_image_dir` — a REAL directory: Spark's binaryFile source plus
   path-derived class label (S1/P6). Used by tests against a tmpdir of
   PPM files; on a cluster this is the production ingest path (each
   executor reads its own files; no driver-side listing bottleneck beyond
   Spark's own parallel file index).

2. `synthetic_corpus` — a DETERMINISTIC in-engine corpus derived from the
   driver's `documents` table, generated distributed inside a pandas UDF
   (mapInPandas) and round-tripped through the real PPM codec. The pixel
   function is plain integer arithmetic so the DuckDB oracle can verify
   decode results cell-for-cell (operators/multimodal.py) — the closest a
   binary pipeline can get to full oracle coverage.

Synthetic image spec (synthetic_dims; SQL spelling SYNTHETIC_DIMS_SQL):
    height        = 8 + (doc_id * 7919)   % 25          (8..32)
    width         = 8 + (doc_id * 104729) % 25          (8..32)
    pixel[i,j,c]  = (3*i + 5*j + 11*c + doc_id) % 256
    class_name    = documents.lang, path = corpus/<lang>/<doc_id>.ppm

JPEG synthetic spec (fmt="jpeg"; flat 8x8 grayscale blocks, so the DCT is
DC-only and the quality-100 roundtrip is BIT-EXACT — the property that
lets DuckDB verify a lossy-format decoder cell-for-cell):
    height        = 8 * (1 + (doc_id * 7919)   % 4)     (8/16/24/32)
    width         = 8 * (1 + (doc_id * 104729) % 4)
    pixel[i,j,*]  = (37*(i//8) + 59*(j//8) + doc_id) % 256   (gray, x3)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.catalog import load_table
from tf_datapipeline_spark.functions.imagecodec import encode_png, encode_ppm
from tf_datapipeline_spark.functions.jpegcodec import encode_jpeg
from tf_datapipeline_spark.functions.rows import map_rows

CORPUS_SCHEMA = (
    "path string, class_name string, image_format string, "
    "height int, width int, content binary, length bigint"
)


def synthetic_dims(doc_id: int) -> tuple[int, int]:
    """(height, width) of the synthetic image for a doc_id."""
    return 8 + (doc_id * 7919) % 25, 8 + (doc_id * 104729) % 25


def synthetic_pixels(doc_id: int) -> np.ndarray:
    """Materialize the synthetic (H, W, 3) uint8 image for a doc_id."""
    h, w = synthetic_dims(doc_id)
    i = np.arange(h, dtype=np.int64)[:, None, None]
    j = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((3 * i + 5 * j + 11 * c + doc_id) % 256).astype(np.uint8)


def synthetic_jpeg_dims(doc_id: int) -> tuple[int, int]:
    """(height, width) of the flat-block JPEG image — 8-multiples so every
    block is full (no encoder edge padding enters the decoded crop)."""
    return 8 * (1 + (doc_id * 7919) % 4), 8 * (1 + (doc_id * 104729) % 4)


# synthetic_dims and synthetic_jpeg_dims over a `doc_id` column: (height,
# width) as SQL that Spark and DuckDB both parse (tests/test_multimodal.py
# compares them), and (doc_id, lang, h, w) of every document's image
SYNTHETIC_DIMS_SQL = ("8 + (doc_id * 7919) % 25", "8 + (doc_id * 104729) % 25")
SYNTHETIC_JPEG_DIMS_SQL = (
    "8 * (1 + (doc_id * 7919) % 4)", "8 * (1 + (doc_id * 104729) % 4)"
)
DIMS_SQL = "SELECT doc_id, lang, {} AS h, {} AS w FROM documents".format(
    *SYNTHETIC_DIMS_SQL
)


def synthetic_jpeg_pixels(doc_id: int) -> np.ndarray:
    """Grayscale (H, W) uint8 image of flat 8x8 blocks: block (bi, bj) is
    the constant (37*bi + 59*bj + doc_id) % 256. DC-only DCT -> the
    quality-100 JPEG roundtrip is bit-exact (functions/jpegcodec.py)."""
    h, w = synthetic_jpeg_dims(doc_id)
    bi = np.arange(h, dtype=np.int64)[:, None] // 8
    bj = np.arange(w, dtype=np.int64)[None, :] // 8
    return ((37 * bi + 59 * bj + doc_id) % 256).astype(np.uint8)


def synthetic_jpeg_rgb_pixels(doc_id: int) -> np.ndarray:
    """RGB gradient (H, W, 3) uint8 with per-doc phase — NON-flat content
    (every AC band populated) at odd dims (never multiples of 16), so a
    4:2:0 encode exercises huffman AC runs, chroma subsampling and MCU
    padding. Pure function of doc_id: identical at every sf."""
    h = 17 + (doc_id * 7919) % 16
    w = 17 + (doc_id * 104729) % 16
    yy, xx = np.mgrid[0:h, 0:w]
    r = (3 * yy + 2 * xx + doc_id) % 256
    g = (5 * yy + 7 * doc_id) % 256
    b = (7 * xx + 13 * doc_id) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synthetic_corpus(
    spark: SparkSession, sf_dir: str, fmt: str = "ppm", docs_filter=None
) -> DataFrame:
    """documents -> (path, class_name, image_format, h, w, content, length)
    with content = real encoded bytes (PPM or PNG — both codecs are real),
    generated executor-side in Arrow batches. Only (doc_id, lang) crosses
    the scan boundary (column pruning); the MB-scale binary column is born
    inside the UDF."""
    if fmt not in ("ppm", "png", "jpeg"):
        raise ValueError(f"unsupported synthetic corpus format {fmt!r}")

    def gen(doc_id: int, lang: str) -> list[tuple]:
        if fmt == "jpeg":
            img = synthetic_jpeg_pixels(doc_id)
            payload = encode_jpeg(img, quality=100)
        else:
            img = synthetic_pixels(doc_id)
            payload = (encode_ppm if fmt == "ppm" else encode_png)(img)
        h, w = img.shape[:2]
        path = f"corpus/{lang}/{doc_id}.{fmt}"
        return [(path, lang, fmt, h, w, payload, len(payload))]

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    if docs_filter is not None:
        # pushed below the generator: filtered docs are never encoded
        docs = docs.filter(docs_filter)
    return map_rows(docs, gen, CORPUS_SCHEMA)


def scan_image_dir(spark: SparkSession, root: str, fmt: str = "ppm") -> DataFrame:
    """binaryFile scan of <root>/<class_name>/<file>.<fmt> with the label
    parsed from the path — the Spark-native form of the reference's
    directory walk (generator.py:8-34). Filter pushdown on pathGlobFilter
    keeps non-image files out of the scan."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{fmt}")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return df.select(
        F.col("path"),
        F.regexp_extract(F.col("path"), r".*/([^/]+)/[^/]+$", 1).alias("class_name"),
        F.lit(fmt).alias("image_format"),
        F.col("content"),
        F.col("length"),
    )
