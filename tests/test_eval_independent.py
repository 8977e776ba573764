"""Independent verification of the eval preprocessing chain (M9 +
bilinear M4) — the q83g analog of tests/jpeg_independent.py.

Why: q83g's golden oracle literals were
generated by the implementation under test, so the gate freezes current
behavior rather than verifying it. This module derives the expected
values from the SPEC alone — tf.image.central_crop (keep the central
`fraction` of each spatial dim, floor'd margins) and
tf.image.resize_bilinear with half-pixel centers / align_corners=False
(src center of output pixel i = (i + 0.5) * in/out - 0.5, clamped) —
using a structurally different computation (per-pixel scalar loops and
hand-derived closed-form literals; no shared helpers, no vectorized
gather) and pins the engine's kernels against it. A flip, transpose,
off-by-half-pixel, or wrong-corner bug in the engine's vectorized
implementation cannot survive both this and the frozen goldens.
"""

from __future__ import annotations

import numpy as np

from tf_datapipeline_spark.functions.imageops import (
    central_crop,
    preprocess_for_eval,
    resize_bilinear,
)


def _spec_bilinear(src: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Scalar-loop bilinear resample straight from the TF spec (float32
    element arithmetic, same IEEE ops the spec implies — derived
    independently of the engine's vectorized gather formulation)."""
    h, w, c = src.shape
    src = src.astype(np.float32)
    out = np.empty((out_h, out_w, c), dtype=np.float32)
    for i in range(out_h):
        sy = (i + 0.5) * (h / out_h) - 0.5
        sy = min(max(sy, 0.0), h - 1)
        y0 = int(np.floor(sy))
        y1 = min(y0 + 1, h - 1)
        fy = np.float32(sy - y0)
        for j in range(out_w):
            sx = (j + 0.5) * (w / out_w) - 0.5
            sx = min(max(sx, 0.0), w - 1)
            x0 = int(np.floor(sx))
            x1 = min(x0 + 1, w - 1)
            fx = np.float32(sx - x0)
            for k in range(c):
                top = src[y0, x0, k] * (np.float32(1) - fx) + src[y0, x1, k] * fx
                bot = src[y1, x0, k] * (np.float32(1) - fx) + src[y1, x1, k] * fx
                out[i, j, k] = top * (np.float32(1) - fy) + bot * fy
    return out


def _grad_image(h: int, w: int) -> np.ndarray:
    """Asymmetric uint8 test content: every (row, col, channel) distinct,
    so any spatial flip/transpose/channel swap changes the result."""
    img = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            for k in range(3):
                img[y, x, k] = (7 * y + 13 * x + 101 * k) % 256
    return img


def test_bilinear_matches_hand_computed_literals():
    """Closed-form 2x2 -> 4x4 upscale with exactly-representable values:
    source centers for output i are ((i+0.5)*0.5 - 0.5) = [-0.25, 0.25,
    0.75, 1.25] -> clamped/floored to weights [0, 0.25, 0.75, 1(clamp)].
    With corner values 0 and 1 (from uint8 0/255 over 255) every
    interpolation is an exact binary fraction — hand-derived, not
    generated."""
    src = np.zeros((2, 2, 1), dtype=np.float32)
    src[0, 0, 0] = 0.0
    src[0, 1, 0] = 1.0
    src[1, 0, 0] = 0.25
    src[1, 1, 0] = 0.75
    got = resize_bilinear(src, 4, 4)
    # x-weights along a row of [a, b]: [a, 0.75a+0.25b, 0.25a+0.75b, b]
    top = [0.0, 0.25, 0.75, 1.0]  # row y=0: a=0, b=1
    bot = [0.25, 0.375, 0.625, 0.75]  # row y=1: a=0.25, b=0.75
    # y-weights down a column of [t, u]: [t, 0.75t+0.25u, 0.25t+0.75u, u]
    expect = np.array(
        [
            top,
            [0.75 * t + 0.25 * u for t, u in zip(top, bot)],
            [0.25 * t + 0.75 * u for t, u in zip(top, bot)],
            bot,
        ],
        dtype=np.float32,
    )[:, :, None]
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got, expect)


def test_bilinear_matches_spec_loop_fractional_scale():
    """Engine bilinear == scalar spec loop bit-for-bit on an asymmetric
    image at a FRACTIONAL scale (14 -> 4 is q83g's 0.875-crop-then-
    resize shape; 5 -> 7 exercises upscale with clamped edges)."""
    img = _grad_image(14, 10).astype(np.float32) / np.float32(255.0)
    np.testing.assert_array_equal(resize_bilinear(img, 4, 6), _spec_bilinear(img, 4, 6))
    img2 = _grad_image(5, 5).astype(np.float32) / np.float32(255.0)
    np.testing.assert_array_equal(resize_bilinear(img2, 7, 7), _spec_bilinear(img2, 7, 7))


def test_central_crop_literals():
    """central_crop(0.875) on 16x16: margin = floor(16 * 0.125 / 2) = 1
    -> rows/cols 1..14 inclusive (14x14). Pinned by slicing the source
    independently."""
    img = _grad_image(16, 16)
    got = central_crop(img, 0.875)
    assert got.shape == (14, 14, 3)
    np.testing.assert_array_equal(got, img[1:15, 1:15])
    # odd size: 9 -> margin floor(9*0.125/2)=0 -> identity
    img9 = _grad_image(9, 9)
    np.testing.assert_array_equal(central_crop(img9, 0.875), img9)


def test_eval_chain_matches_independent_derivation():
    """End-to-end preprocess_for_eval == independent derivation: uint8 ->
    float32/255 -> spec central slice -> scalar-loop bilinear. Catches
    any wrong op ORDER too (resize-then-crop would differ on this
    content)."""
    img = _grad_image(16, 12)
    got = preprocess_for_eval(img, 4, 4)
    f = img.astype(np.float32) / np.float32(255.0)
    # margins: floor(16*0.125/2)=1, floor(12*0.125/2)=0 -> 14 x 12 slice
    sliced = f[1:15, :, :]
    expect = _spec_bilinear(sliced, 4, 4)
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got, expect)
