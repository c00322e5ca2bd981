"""Skip-if-absent cv2 parity for the pre-OCR image kernels.

The numpy ports in ``kernels/image.py`` are the only image engine.
Where OpenCV is installed, these tests quantify how far the ports sit
from cv2 by calling cv2 directly on the same inputs:

- The ports accumulate in float64 where cv2 uses fixed-point
  interpolation (2^-11 resize weights, 5-bit warp fractions, fixed-point
  LUT blending), so byte-identity is NOT the contract — the documented
  band is ≤2 LSB on ≥99% of pixels, which downstream OCR is insensitive
  to.  An exceedance means one of the ports drifted and should fail.
- The same band covers ``enhance_contrast_and_sharpen`` end-to-end
  (CLAHE + blur + addWeighted).
"""

from __future__ import annotations

import numpy as np
import pytest

cv2 = pytest.importorskip("cv2")

from ocr_api_spark.kernels import image as im  # noqa: E402


def _img(h, w, seed=0, color=False):
    rng = np.random.default_rng(seed)
    # smooth-ish content (OCR-like), not white noise: interpolation
    # differences are masked by noise and exaggerated by ramps, so use a
    # blurred random field
    base = rng.integers(0, 256, (h // 4 + 2, w // 4 + 2), dtype=np.uint8)
    up = np.kron(base, np.ones((4, 4), dtype=np.uint8))[:h, :w]
    if color:
        return np.stack([up, np.roll(up, 3, 0), np.roll(up, 5, 1)], axis=2)
    return up


def _assert_close(ours: np.ndarray, ref: np.ndarray, max_lsb=2, frac=0.99, what=""):
    assert ours.shape == ref.shape, f"{what}: shape {ours.shape} vs {ref.shape}"
    diff = np.abs(ours.astype(np.int64) - ref.astype(np.int64))
    within = (diff <= max_lsb).mean()
    assert within >= frac, f"{what}: only {within:.4f} of pixels within {max_lsb} LSB"
    assert diff.max() <= 16, f"{what}: max diff {diff.max()}"


def test_resize_cubic_parity():
    g = _img(120, 160, seed=1)
    ref = cv2.resize(g, (320, 240), interpolation=cv2.INTER_CUBIC)
    _assert_close(im.resize_cubic(g, dsize=(320, 240)), ref, what="resize up")
    ref = cv2.resize(g, (77, 59), interpolation=cv2.INTER_CUBIC)
    _assert_close(im.resize_cubic(g, dsize=(77, 59)), ref, what="resize down")


def test_gaussian_blur_parity():
    g = _img(100, 140, seed=2)
    ref = cv2.GaussianBlur(g, (3, 3), 0)
    _assert_close(im.gaussian_blur(g, (3, 3), 0), ref, max_lsb=1, what="blur 3x3")
    ref = cv2.GaussianBlur(g, (0, 0), 1.0)
    _assert_close(im.gaussian_blur(g, (0, 0), 1.0), ref, max_lsb=1, what="blur sigma1")


def test_clahe_parity():
    g = _img(160, 200, seed=3)
    ref = cv2.createCLAHE(clipLimit=2.0, tileGridSize=(8, 8)).apply(g)
    _assert_close(im.clahe(g, 2.0, (8, 8)), ref, what="clahe")


def test_adaptive_threshold_parity():
    g = _img(90, 120, seed=4)
    ref = cv2.adaptiveThreshold(
        g, 255, cv2.ADAPTIVE_THRESH_GAUSSIAN_C, cv2.THRESH_BINARY, 11, 2
    )
    ours = im.adaptive_threshold_gaussian(g, 255, 11, 2)
    # binary verdicts: near-threshold pixels may flip with the ±1 LSB
    # blur difference — require ≥99% agreement, not equality
    agree = (ours == ref).mean()
    assert agree >= 0.99, agree


def test_warp_affine_rotation_parity():
    g = _img(80, 110, seed=5)
    M = im.get_rotation_matrix_2d((55, 40), 12.5, 1.0)
    ref = cv2.warpAffine(
        g,
        M,
        (110, 80),
        flags=cv2.INTER_LINEAR,
        borderMode=cv2.BORDER_CONSTANT,
        borderValue=255,
    )
    _assert_close(im.warp_affine(g, M, (110, 80)), ref, max_lsb=4, frac=0.98, what="warp")


def test_enhance_chain_parity_end_to_end():
    bgr = _img(120, 150, seed=6, color=True)
    gray = cv2.cvtColor(bgr, cv2.COLOR_BGR2GRAY)
    contrast = cv2.createCLAHE(clipLimit=2.0, tileGridSize=(8, 8)).apply(gray)
    color = cv2.cvtColor(contrast, cv2.COLOR_GRAY2BGR)
    blurred = cv2.GaussianBlur(color, (0, 0), 1.0)
    ref = cv2.addWeighted(color, 2.0, blurred, -1.0, 0)
    _assert_close(
        im.enhance_contrast_and_sharpen(bgr), ref, max_lsb=3, frac=0.98, what="enhance"
    )
