"""Training-feed surface: the engine-to-consumer boundary.

The reference's whole point is feeding (image, label) batches to a
training loop: queue runners prefetch + shuffle_batch (EP1,
train.py:113-129), Dataset iterators (EP2, train_dataset.py:110-135), or
the hybrid prefetcher (EP3). Spark's equivalent of all three is the same
plan: executors scan/decode/augment in parallel (the "prefetch threads"),
and `toLocalIterator` pulls the rows to the driver one partition at a
time with backpressure (prefetchPartitions=True overlaps producer and
consumer, the exact role of tf.train.start_queue_runners). Arrow carries
the batches only inside the executors' pandas UDFs; what crosses to the
driver is pickled Rows (pyspark's `toLocalIterator` serves them through
`BatchedSerializer(CPickleSerializer())`), so each pixel array arrives as
a Python list that `batch_iterator` turns back into float32.

The feed is DETERMINISTIC: epoch e reshuffles by the arithmetic
permutation key with seed+e (reference reshuffles per epoch via
min_after_dequeue mixing, R3 — ours is a full reshuffle, stronger), and
augmentation seeds derive from (seed, row key), so a retried task or a
re-run yields byte-identical batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tf_datapipeline_spark.functions.imagecodec import decode_image
from tf_datapipeline_spark.functions.imageops import (
    preprocess_for_eval,
    preprocess_for_train,
    rng_for_row,
)
from tf_datapipeline_spark.functions.rows import map_rows
from tf_datapipeline_spark.operators.pipeline import shuffle_key


def processed_records(
    records: DataFrame,
    out_h: int,
    out_w: int,
    seed: int = 0,
    epoch: int = 0,
    is_training: bool = True,
) -> DataFrame:
    """records (image_encoded, image_format, label, ...) -> one fused
    decode+preprocess stage emitting flattened float pixels (reference
    M1-M10 as a single mapInPandas — each image crosses Arrow once); the
    row loop is `functions/rows.map_rows`, `proc` its per-record body.
    Epoch-aware shuffle: orderBy the seeded permutation key so every epoch
    visits records in a different deterministic order (R1/R3 analog)."""

    def proc(enc: bytes, fmt: str, label: int, key: int) -> list[tuple]:
        arr = decode_image(bytes(enc), fmt)
        if is_training:
            img, _ = preprocess_for_train(arr, rng_for_row(seed, key), out_h, out_w)
        else:
            img = preprocess_for_eval(arr, out_h, out_w)
        return [(img.astype(np.float32).ravel(), label, key)]

    # stable per-record key from the UNIQUE record path (hashing the
    # payload would give exact-duplicate images identical RNG streams and
    # tied sort keys — nondeterministic relative order); xxhash64 reduced
    # below 2^31 so the multiplicative permutation key stays within ANSI
    # bigint range
    keyed = records.withColumn("k", F.pmod(F.xxhash64("path"), F.lit(2**31)))
    proj = keyed.select("image_encoded", "image_format", "label", "k")
    done = map_rows(proj, proc, "pixels array<float>, label int, k bigint")
    # epoch-dependent deterministic order (the UDF preserves k)
    return done.withColumn("ek", shuffle_key(F.col("k"), seed=seed + epoch)).orderBy(
        "ek", "k"
    )


def batch_iterator(
    records: DataFrame,
    batch_size: int,
    out_h: int,
    out_w: int,
    epochs: int = 1,
    seed: int = 0,
    is_training: bool = True,
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """Yield (epoch, images [B,H,W,3] float32, labels [B] int64) —
    dataset.repeat + batch + one_shot_iterator (B1/B3/B4), ragged final
    batch allowed (B2). toLocalIterator(prefetchPartitions=True) keeps
    executor prefetch ahead of the consumer (B6); it ships pickled Rows,
    not Arrow, so each row's pixel list is rebuilt as a float32 array."""
    for epoch in range(epochs):
        df = processed_records(records, out_h, out_w, seed, epoch, is_training)
        buf_px: list[np.ndarray] = []
        buf_lb: list[int] = []
        for row in df.toLocalIterator(prefetchPartitions=True):
            buf_px.append(np.asarray(row.pixels, dtype=np.float32))
            buf_lb.append(row.label)
            if len(buf_px) == batch_size:
                yield (
                    epoch,
                    np.stack(buf_px).reshape(-1, out_h, out_w, 3),
                    np.asarray(buf_lb, dtype=np.int64),
                )
                buf_px, buf_lb = [], []
        if buf_px:  # ragged tail (allow_smaller_final_batch=True analog)
            yield (
                epoch,
                np.stack(buf_px).reshape(-1, out_h, out_w, 3),
                np.asarray(buf_lb, dtype=np.int64),
            )
