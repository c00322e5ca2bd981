"""Image-preprocessing kernels (reference I1-I6, I12 + the S10/C5 OSD
gate) — the pre-OCR chain every live endpoint runs (app.py:5634
passport, 5784 mask-aadhaar).

The reference uses OpenCV; these are numpy re-implementations of the
same algorithms with OpenCV's documented conventions (the pattern
established by ``kernels/signature.py``), and the only image engine:
every process computes the same pixels whether or not OpenCV is
installed.  The skip-if-absent OpenCV parity tests under ``tests/``
compare the ports with cv2 where an OpenCV build exists:

- ``rgb_to_gray`` / ``bgr_to_gray``: cv2's exact fixed-point weights
  (R2Y=4899, G2Y=9617, B2Y=1868, shift 14).
- ``resize_cubic``: INTER_CUBIC — separable 4-tap bicubic, A=-0.75,
  half-pixel-center mapping, replicate border (float64 accumulation
  where cv2 quantizes weights to 2^-11 fixed point; ≤1 LSB apart).
- ``gaussian_blur``: cv2.getGaussianKernel semantics — the fixed
  small-kernel table for sigma<=0 & ksize<=7, the sigma formula
  otherwise, auto ksize from sigma, REFLECT_101 border.
- ``adaptive_threshold_gaussian``: ADAPTIVE_THRESH_GAUSSIAN_C with
  THRESH_BINARY — dst = 255 where src > round(blur) - round(C)
  (app.py:1774 uses blockSize 11, C 2).
- ``dilate``: max filter; the reference's np.ones((1,1)) kernel
  (app.py:1777) makes it the identity, preserved as such.
- ``clahe``: cv2::CLAHE — per-tile clipped histogram (integer clip
  limit, excess redistribution with residual stepping), LUT scaled by
  255/tileArea, bilinear interpolation between tile LUTs, REFLECT_101
  padding to a tile-grid multiple.
- ``rotate_image`` / ``correct_rotation``: getRotationMatrix2D +
  warpAffine with the expanded canvas and white border of
  app.py:5119-5140; bilinear sampling.
- ``alpha_flatten``: the transparent-background→white compositing of
  app.py:5100-5106, formula-exact.
- ``parse_osd_rotate`` / ``osd_angle_with_retry``: the Tesseract OSD
  "Rotate:" parse with default-0 fallback (app.py:5102-5116) and the
  preprocess-retry cascade (app.py:5681-5691).  Parity note: the
  reference's ``detect_osd_angle`` swallows TesseractError internally
  and returns 0, so its endpoint-level retry branch is unreachable;
  the cascade here keeps the interface (``osd_fn`` may raise) and the
  reference's behavior of continuing downstream with the
  *preprocessed* image after a failed first attempt.

Chains (exact op order from the reference):
- ``preprocess_image``  (I1, app.py:1765-1780): RGB→gray → ×1.5 cubic
  → 3×3 blur → adaptive threshold(11, 2) → 1×1 dilate.
- ``enhance_contrast_and_sharpen`` (app.py:5382-5396): BGR→gray →
  CLAHE(2.0, 8×8) → gray→BGR → blur(sigma 1.0) → addWeighted(2, -1).
- ``preprocess_for_osd`` (app.py:5399-5409): ×2 cubic when h<800 →
  CLAHE.  The reference applies CLAHE to the *color* image (the
  grayscale line is commented out), which raises in cv2 — exception
  parity: ValueError on 3-channel input.
- ``upscale_image`` (app.py:5412-5415): ×scale cubic.
"""

from __future__ import annotations

import math

import numpy as np

# --- grayscale ---------------------------------------------------------------

_R2Y, _G2Y, _B2Y, _YUV_SHIFT = 4899, 9617, 1868, 14


def rgb_to_gray(img: np.ndarray) -> np.ndarray:
    """cv2.COLOR_RGB2GRAY, fixed-point exact (app.py:1769)."""
    if img.ndim == 2:
        return img.astype(np.uint8)
    r = img[..., 0]
    g = img[..., 1]
    b = img[..., 2]
    # equal-channel fast path (the pre-OCR chain feeds gray→BGR
    # replications back through here): with r=g=b the weights sum to
    # exactly 2^14, so (v*16384 + 8192) >> 14 == v — the fixed-point
    # result IS the channel, bit-exactly (pinned by test)
    # cheap strided pre-check first (review r7): genuinely colored
    # frames bail after ~n/4096 comparisons instead of paying two full
    # O(n) scans that are guaranteed to fail; replicated-gray frames
    # (gray_to_bgr outputs fed back through the pre-OCR chain) pass it
    # and then confirm with the exact full check.  2-D strided VIEWS,
    # not reshape(-1) — the channel slice of an HxWx3 frame is
    # non-contiguous, so a 1-D reshape would silently memcpy the whole
    # channel and cost more than the scans it replaces (review r7 #2)
    rs = r[::64, ::64]
    if (
        np.array_equal(rs, g[::64, ::64])
        and np.array_equal(rs, b[::64, ::64])
        and np.array_equal(r, g)
        and np.array_equal(g, b)
    ):
        return r.astype(np.uint8)
    half = 1 << (_YUV_SHIFT - 1)
    return (
        (r.astype(np.int64) * _R2Y + g.astype(np.int64) * _G2Y + b.astype(np.int64) * _B2Y + half)
        >> _YUV_SHIFT
    ).astype(np.uint8)


def bgr_to_gray(img: np.ndarray) -> np.ndarray:
    """cv2.COLOR_BGR2GRAY (app.py:5385)."""
    if img.ndim == 2:
        return img.astype(np.uint8)
    return rgb_to_gray(img[..., ::-1])


def gray_to_bgr(gray: np.ndarray) -> np.ndarray:
    """cv2.COLOR_GRAY2BGR — replicate the channel (app.py:5390)."""
    return np.repeat(gray[..., None], 3, axis=2)


# --- INTER_CUBIC resize ------------------------------------------------------


def _cubic_weights(t: np.ndarray, A: float = -0.75) -> np.ndarray:
    """OpenCV's interpolateCubic: 4 taps at offsets -1..2, A=-0.75."""
    w0 = ((A * (t + 1) - 5 * A) * (t + 1) + 8 * A) * (t + 1) - 4 * A
    w1 = ((A + 2) * t - (A + 3)) * t * t + 1
    s = 1 - t
    w2 = ((A + 2) * s - (A + 3)) * s * s + 1
    w3 = 1.0 - w0 - w1 - w2
    return np.stack([w0, w1, w2, w3], axis=1)


def _resize_cubic_axis(img: np.ndarray, out_len: int, axis: int) -> np.ndarray:
    in_len = img.shape[axis]
    scale = in_len / out_len
    x = (np.arange(out_len, dtype=np.float64) + 0.5) * scale - 0.5
    x0 = np.floor(x).astype(np.int64)
    w = _cubic_weights(x - x0)  # (out, 4)
    idx = np.clip(x0[:, None] + np.arange(-1, 3)[None, :], 0, in_len - 1)  # (out, 4)
    moved = np.moveaxis(img, axis, 0)  # (in, ...)
    # accumulate tap-by-tap instead of materializing the (out, 4, ...)
    # gather (a 4x peak-memory copy that measured ~40% of the resize):
    # t0+t1+t2+t3 is numpy's own reduction order for a length-4 axis
    # sum, so the result is bit-identical to the gathered form.
    # nb (r6 interleaved A/Bs at 0.0% steal): both a direct axis-1
    # gather (img[:, idx_col], 1.6x slower) and np.take-into-a-reused
    # buffer on the moved view (1.2x slower) LOSE to this plain
    # fancy-index form — numpy's take on a strided view walks indices
    # scalar-wise where the fancy row gather is a memcpy-like pass.
    wt = [w[:, t].reshape((out_len,) + (1,) * (moved.ndim - 1)) for t in range(4)]
    out = moved[idx[:, 0]] * wt[0]
    for t in range(1, 4):
        out += moved[idx[:, t]] * wt[t]
    return np.moveaxis(out, 0, axis)


def resize_cubic(
    img: np.ndarray,
    dsize: tuple[int, int] | None = None,
    fx: float | None = None,
    fy: float | None = None,
) -> np.ndarray:
    """cv2.resize(..., interpolation=INTER_CUBIC).  ``dsize`` is (w, h)
    like cv2; when None, dims scale by fx/fy with cvRound semantics.
    cv2 itself quantizes the 4-tap weights to 2^-11 fixed point (≤1 LSB
    from this float64 port)."""
    h, w = img.shape[:2]
    if dsize is not None:
        out_w, out_h = dsize
    else:
        out_w, out_h = int(round(w * fx)), int(round(h * fy))
    out = img.astype(np.float64)
    out = _resize_cubic_axis(out, out_h, 0)
    out = _resize_cubic_axis(out, out_w, 1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# --- Gaussian blur -----------------------------------------------------------

# cv2's fixed kernels for sigma<=0 and ksize<=7 (smoothing tables)
_SMALL_GAUSSIAN = {
    1: np.array([1.0]),
    3: np.array([0.25, 0.5, 0.25]),
    5: np.array([0.0625, 0.25, 0.375, 0.25, 0.0625]),
    7: np.array([0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125]),
}


def gaussian_kernel_1d(ksize: int, sigma: float) -> np.ndarray:
    """cv2.getGaussianKernel for 8U inputs."""
    if sigma <= 0 and ksize in _SMALL_GAUSSIAN:
        return _SMALL_GAUSSIAN[ksize]
    if sigma <= 0:
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) * 0.5
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _auto_ksize(sigma: float) -> int:
    # cv2: cvRound(sigma * 3 * 2 + 1) | 1 for 8-bit images
    return int(round(sigma * 3 * 2 + 1)) | 1


def _sep_conv(img: np.ndarray, k: np.ndarray, axis: int, pad_mode: str) -> np.ndarray:
    pad = len(k) // 2
    pad_spec = [(0, 0)] * img.ndim
    pad_spec[axis] = (pad, pad)
    padded = np.pad(img, pad_spec, mode=pad_mode)
    # nb (r6 interleaved A/Bs at 0% steal): two "obvious" improvements
    # both measured SLOWER than this plain form and were rejected —
    # (a) feeding the uint8 source directly (mixed-dtype multiply with
    # out=) routes through numpy's buffered casting loop (1.15x), and
    # (b) np.multiply into a reused temp saves the per-tap allocation
    # but loses the fused alloc+multiply fast path (~5-8%).
    out = np.zeros_like(img, dtype=np.float64)
    for i, kv in enumerate(k):
        sl = [slice(None)] * img.ndim
        sl[axis] = slice(i, i + img.shape[axis])
        out += kv * padded[tuple(sl)]
    return out


def gaussian_blur(
    img: np.ndarray,
    ksize: tuple[int, int] = (0, 0),
    sigma: float = 0.0,
    border: str = "reflect",
) -> np.ndarray:
    """cv2.GaussianBlur.  ``border``: numpy pad mode — "reflect" is
    cv2's BORDER_DEFAULT (REFLECT_101), "edge" is BORDER_REPLICATE
    (what adaptiveThreshold uses internally).  cv2 itself runs
    fixed-point row/column filters on 8U (≤1 LSB from this port)."""
    kw, kh = ksize
    if kw <= 0:
        kw = _auto_ksize(sigma)
    if kh <= 0:
        kh = _auto_ksize(sigma)
    kx = gaussian_kernel_1d(kw, sigma)
    ky = gaussian_kernel_1d(kh, sigma)
    out = _sep_conv(img.astype(np.float64), ky, axis=0, pad_mode=border)
    out = _sep_conv(out, kx, axis=1, pad_mode=border)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# --- adaptive threshold ------------------------------------------------------


def adaptive_threshold_gaussian(
    gray: np.ndarray, max_value: int = 255, block_size: int = 11, C: float = 2.0
) -> np.ndarray:
    """cv2.adaptiveThreshold(ADAPTIVE_THRESH_GAUSSIAN_C, THRESH_BINARY)
    — app.py:1774.  Threshold surface = Gaussian-weighted neighborhood
    mean rounded to uint8, minus C.  cv2 conventions: the internal blur
    pads with BORDER_REPLICATE (not the blur default REFLECT_101), and
    THRESH_BINARY uses cvCeil(C)."""
    mean = gaussian_blur(gray, (block_size, block_size), 0.0, border="edge")
    idelta = int(math.ceil(C))
    return np.where(
        gray.astype(np.int64) > mean.astype(np.int64) - idelta, max_value, 0
    ).astype(np.uint8)


def _morph(img: np.ndarray, kernel: np.ndarray, reducer, pad_value: int, flip: bool) -> np.ndarray:
    """One min/max filter pass over the kernel footprint with cv2's
    neutral border (morphologyDefaultBorderValue: +inf for erode, -inf
    for dilate — i.e. the border never wins).  cv2 anchors at
    (kh//2, kw//2) and DILATION reflects the structuring element about
    the anchor (visible for even-sized kernels), hence ``flip``."""
    kh, kw = kernel.shape
    ay, ax = kh // 2, kw // 2
    if flip:
        ay, ax = kh - 1 - ay, kw - 1 - ax
    padded = np.pad(
        img,
        ((ay, kh - 1 - ay), (ax, kw - 1 - ax)),
        mode="constant",
        constant_values=pad_value,
    )
    stacked = [
        padded[i : i + img.shape[0], j : j + img.shape[1]]
        for i in range(kh)
        for j in range(kw)
        if kernel[i, j]
    ]
    return reducer.reduce(stacked)


def dilate(img: np.ndarray, kernel: np.ndarray, iterations: int = 1) -> np.ndarray:
    """cv2.dilate (max filter over the reflected kernel footprint).  The
    reference calls it with np.ones((1,1)) — the identity
    (app.py:1776-1777)."""
    if kernel.shape == (1, 1):
        return img.copy()
    out = img
    for _ in range(iterations):
        out = _morph(out, kernel, np.maximum, 0, flip=True)
    return out


def erode(img: np.ndarray, kernel: np.ndarray, iterations: int = 1) -> np.ndarray:
    """cv2.erode (min filter)."""
    if kernel.shape == (1, 1):
        return img.copy()
    out = img
    for _ in range(iterations):
        out = _morph(out, kernel, np.minimum, 255, flip=False)
    return out


def morph_open(img: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """cv2.morphologyEx(MORPH_OPEN) = erode then dilate — keeps only
    structures that contain the kernel."""
    return dilate(erode(img, kernel), kernel)


def remove_vertical_lines(mask: np.ndarray, length: int = 30) -> np.ndarray:
    """app.py:4741-4744 — open with a 1×``length`` vertical rect
    (cv2's (1, 30) structuring element is 1 wide, 30 tall) and subtract:
    table rules and borders vanish from the ink mask before contouring."""
    u8 = (mask.astype(np.uint8)) * (255 if mask.dtype == bool else 1)
    vertical = morph_open(u8, np.ones((length, 1), np.uint8))
    cleaned = np.clip(u8.astype(np.int16) - vertical.astype(np.int16), 0, 255).astype(np.uint8)
    return cleaned > 0 if mask.dtype == bool else cleaned


# --- CLAHE -------------------------------------------------------------------


def _clahe_tile_lut(hist: np.ndarray, clip_limit: int, lut_scale: float) -> np.ndarray:
    hist = hist.astype(np.int64).copy()
    if clip_limit > 0:
        over = hist > clip_limit
        excess = int((hist[over] - clip_limit).sum())
        hist[over] = clip_limit
        # cv2: spread excess evenly, then walk the residual in steps
        batch = excess // 256
        residual = excess - batch * 256
        hist += batch
        if residual:
            step = max(256 // residual, 1)
            i = 0
            while residual > 0:
                hist[i] += 1
                residual -= 1
                i += step
    cdf = np.cumsum(hist)
    return np.clip(np.rint(cdf * lut_scale), 0, 255).astype(np.uint8)


def clahe(
    gray: np.ndarray, clip_limit: float = 2.0, tile_grid: tuple[int, int] = (8, 8)
) -> np.ndarray:
    """cv2.createCLAHE(clipLimit, tileGridSize).apply — app.py:5387-5388.
    Grayscale only; cv2 raises on color input and so do we (the
    ``preprocess_for_osd`` quirk relies on this).  Same algorithm as
    cv2's; cv2 interpolates between tile LUTs in fixed point, ≤1 LSB
    from this port."""
    if gray.ndim != 2:
        raise ValueError("CLAHE requires a single-channel image (cv2 parity)")
    tiles_x, tiles_y = tile_grid
    h, w = gray.shape
    pad_y = (-h) % tiles_y
    pad_x = (-w) % tiles_x
    padded = np.pad(gray, ((0, pad_y), (0, pad_x)), mode="reflect") if (pad_y or pad_x) else gray
    ph, pw = padded.shape
    th, tw = ph // tiles_y, pw // tiles_x
    tile_area = th * tw
    lut_scale = 255.0 / tile_area
    clip = max(int(clip_limit * tile_area / 256.0), 1) if clip_limit > 0 else 0

    luts = np.empty((tiles_y, tiles_x, 256), dtype=np.uint8)
    for ty in range(tiles_y):
        for tx in range(tiles_x):
            tile = padded[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw]
            hist = np.bincount(tile.ravel(), minlength=256)
            luts[ty, tx] = _clahe_tile_lut(hist, clip, lut_scale)

    ys = np.arange(ph, dtype=np.float64)
    xs = np.arange(pw, dtype=np.float64)
    tyf = ys / th - 0.5
    txf = xs / tw - 0.5
    ty1 = np.floor(tyf).astype(np.int64)
    tx1 = np.floor(txf).astype(np.int64)
    ya_row = tyf - ty1
    xa_col = txf - tx1

    # region-wise blend: (ty1, tx1) is piecewise constant over
    # (tiles+1)² rectangular bands, so within a band the four LUTs are
    # FIXED 256-entry tables — four tiny lookups per band replace four
    # full-image advanced-index gathers over the (tiles_y, tiles_x, 256)
    # cube (which measured ~60% of clahe).  The per-pixel blend
    # expression is evaluated with identical operand order and values,
    # so the output is bit-identical to the gathered form.
    out = np.empty((ph, pw), dtype=np.uint8)
    luts_f = luts.astype(np.float64)
    row_starts = np.searchsorted(ty1, np.arange(-1, tiles_y), side="left")
    row_bounds = list(row_starts) + [ph]
    col_starts = np.searchsorted(tx1, np.arange(-1, tiles_x), side="left")
    col_bounds = list(col_starts) + [pw]
    for bi, b in enumerate(range(-1, tiles_y)):
        r0, r1 = row_bounds[bi], row_bounds[bi + 1]
        if r0 == r1:
            continue
        t1, t2 = max(b, 0), min(b + 1, tiles_y - 1)
        ya = ya_row[r0:r1, None]
        for ci, c in enumerate(range(-1, tiles_x)):
            c0, c1 = col_bounds[ci], col_bounds[ci + 1]
            if c0 == c1:
                continue
            l1, l2 = max(c, 0), min(c + 1, tiles_x - 1)
            vreg = padded[r0:r1, c0:c1]
            # gather through float64 LUTs (256 entries converted once
            # per region): identical values to gathering uint8 then
            # astype — the conversion commutes with the lookup — minus
            # four full-frame intermediate uint8 arrays
            tl = luts_f[t1, l1][vreg]
            tr = luts_f[t1, l2][vreg]
            bl = luts_f[t2, l1][vreg]
            br = luts_f[t2, l2][vreg]
            xa = xa_col[None, c0:c1]
            blend = (tl * (1 - xa) + tr * xa) * (1 - ya) + (bl * (1 - xa) + br * xa) * ya
            out[r0:r1, c0:c1] = np.clip(np.rint(blend), 0, 255).astype(np.uint8)
    return out[:h, :w]


# --- rotation ----------------------------------------------------------------


def get_rotation_matrix_2d(center: tuple[float, float], angle: float, scale: float) -> np.ndarray:
    """cv2.getRotationMatrix2D (positive angle = counter-clockwise)."""
    a = math.radians(angle)
    alpha = scale * math.cos(a)
    beta = scale * math.sin(a)
    cx, cy = center
    return np.array(
        [
            [alpha, beta, (1 - alpha) * cx - beta * cy],
            [-beta, alpha, beta * cx + (1 - alpha) * cy],
        ],
        dtype=np.float64,
    )


def warp_affine(
    img: np.ndarray,
    M: np.ndarray,
    dsize: tuple[int, int],
    border_value: float | tuple = 255,
) -> np.ndarray:
    """cv2.warpAffine, INTER_LINEAR, BORDER_CONSTANT.  ``M`` maps src→dst
    (cv2 convention); sampling inverts it.  cv2 itself samples with
    5-bit fixed-point fractions (≤2 LSB from this float64 port on
    smooth gradients)."""
    out_w, out_h = dsize
    full = np.vstack([M, [0.0, 0.0, 1.0]])
    inv = np.linalg.inv(full)
    # rtol MUST be 0: allclose's default relative term scales with entry
    # magnitude, so a genuinely sub-pixel map (scale 1.00001, or a
    # 1000.004 px translation) would get silently snapped to the
    # integer gather (review r5); only absolute sub-nanopixel residue —
    # float noise from exact right-angle trig — qualifies
    if np.allclose(inv[:2], np.rint(inv[:2]), rtol=0.0, atol=1e-9):
        # integer affine map (every right-angle OSD rotation lands here:
        # Tesseract only ever reports 0/90/180/270): each output pixel
        # reads exactly ONE source pixel, so the 4-tap bilinear blend
        # degenerates — one gather replaces four samples + weighting,
        # byte-identical (the residual fractional weights are ~1e-13,
        # far below the rint rounding step on integer samples).
        ii = np.rint(inv[:2]).astype(np.int64)
        ys, xs = np.mgrid[0:out_h, 0:out_w]
        sxi = ii[0, 0] * xs + ii[0, 1] * ys + ii[0, 2]
        syi = ii[1, 0] * xs + ii[1, 1] * ys + ii[1, 2]
        h, w = img.shape[:2]
        valid = (syi >= 0) & (syi < h) & (sxi >= 0) & (sxi < w)
        out = img[np.clip(syi, 0, h - 1), np.clip(sxi, 0, w - 1)]
        if np.isscalar(border_value):
            bvals = np.uint8(np.clip(round(float(border_value)), 0, 255))
        else:
            channels = img.shape[2] if img.ndim == 3 else 1
            bvals = np.clip(
                np.rint(np.asarray(border_value, dtype=np.float64)[:channels]), 0, 255
            ).astype(np.uint8)
            if img.ndim == 2:
                bvals = bvals[0]
        out[~valid] = bvals
        return out
    ys, xs = np.mgrid[0:out_h, 0:out_w].astype(np.float64)
    sx = inv[0, 0] * xs + inv[0, 1] * ys + inv[0, 2]
    sy = inv[1, 0] * xs + inv[1, 1] * ys + inv[1, 2]

    h, w = img.shape[:2]
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    fx = sx - x0
    fy = sy - y0

    imgf = img.astype(np.float64)
    if imgf.ndim == 2:
        imgf = imgf[..., None]
    channels = imgf.shape[2]
    if np.isscalar(border_value):
        border = np.full(channels, float(border_value))
    else:
        border = np.asarray(border_value, dtype=np.float64)[:channels]

    def sample(yi, xi):
        valid = (yi >= 0) & (yi < h) & (xi >= 0) & (xi < w)
        yc = np.clip(yi, 0, h - 1)
        xc = np.clip(xi, 0, w - 1)
        px = imgf[yc, xc]  # (out_h, out_w, C)
        px[~valid] = border
        return px

    p00 = sample(y0, x0)
    p01 = sample(y0, x0 + 1)
    p10 = sample(y0 + 1, x0)
    p11 = sample(y0 + 1, x0 + 1)
    fxc = fx[..., None]
    fyc = fy[..., None]
    out = (p00 * (1 - fxc) + p01 * fxc) * (1 - fyc) + (p10 * (1 - fxc) + p11 * fxc) * fyc
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[..., 0] if img.ndim == 2 else out


def rotate_image(img: np.ndarray, angle: float) -> np.ndarray:
    """app.py:5119-5133 — rotate about the integer center, expand the
    canvas to fit, fill with white."""
    h, w = img.shape[:2]
    center = (w // 2, h // 2)
    rot_mat = get_rotation_matrix_2d(center, angle, 1.0)
    cos = abs(rot_mat[0, 0])
    sin = abs(rot_mat[0, 1])
    new_w = int(h * sin + w * cos)
    new_h = int(h * cos + w * sin)
    rot_mat[0, 2] += new_w / 2 - center[0]
    rot_mat[1, 2] += new_h / 2 - center[1]
    return warp_affine(img, rot_mat, (new_w, new_h), border_value=(255, 255, 255))


def correct_rotation(img: np.ndarray, angle: float) -> np.ndarray:
    """app.py:5136-5140 — undo the OSD-detected angle."""
    if angle == 0:
        return img
    return rotate_image(img, -angle)


# --- alpha flatten (I12) ------------------------------------------------------


def alpha_flatten(img: np.ndarray) -> np.ndarray:
    """app.py:5100-5106 — composite a BGRA image over white, exact
    formula port (float blend, truncating uint8 cast like the
    reference's .astype(np.uint8))."""
    if img.ndim != 3 or img.shape[-1] != 4:
        return img
    alpha_channel = img[:, :, 3]
    rgb_channels = img[:, :, :3]
    white_background = np.ones_like(rgb_channels, dtype=np.uint8) * 255
    alpha_factor = alpha_channel[:, :, np.newaxis] / 255.0
    return (rgb_channels * alpha_factor + white_background * (1 - alpha_factor)).astype(np.uint8)


# --- OSD gate (S10/C5) --------------------------------------------------------


class OsdError(Exception):
    """Stands in for pytesseract.TesseractError in the retry cascade."""


def parse_osd_rotate(osd_output: str | None) -> int:
    """app.py:5102-5116 — find the "Rotate:" line, parse the angle,
    default 0 on anything unexpected."""
    if not osd_output:
        return 0
    try:
        for line in osd_output.split("\n"):
            if "Rotate" in line:
                return int(line.split(":")[-1].strip())
    except Exception:
        pass
    return 0


def osd_angle_with_retry(img: np.ndarray, osd_fn) -> tuple[np.ndarray, int]:
    """app.py:5681-5691 — the preprocess-retry-default-0 cascade.
    ``osd_fn(img) -> str`` produces the OSD text (a Tesseract subprocess
    in production; injectable here).  Returns (image, angle): after a
    failed first attempt the *preprocessed* image flows downstream,
    exactly like the reference reassigns ``img_front``.

    Parity note: the reference's detect_osd_angle swallows
    TesseractError and returns 0, making its endpoint retry branch
    unreachable; this keeps the cascade for osd_fn implementations that
    do raise (OsdError)."""
    angle = 0
    try:
        angle = parse_osd_rotate(osd_fn(img))
    except OsdError:
        img = preprocess_for_osd(img)
        try:
            angle = parse_osd_rotate(osd_fn(img))
        except OsdError:
            pass
    return img, angle


# --- chains -------------------------------------------------------------------


def preprocess_image(img_rgb: np.ndarray) -> np.ndarray:
    """app.py:1765-1780 — the PAN pre-OCR chain."""
    img = rgb_to_gray(img_rgb)
    img = resize_cubic(img, fx=1.5, fy=1.5)
    img = gaussian_blur(img, (3, 3), 0)
    img = adaptive_threshold_gaussian(img, 255, 11, 2)
    return dilate(img, np.ones((1, 1), np.uint8), iterations=1)


def enhance_contrast_and_sharpen(img_bgr: np.ndarray) -> np.ndarray:
    """app.py:5382-5396 — CLAHE contrast + unsharp mask
    (addWeighted(contrast, 2.0, blurred, -1.0, 0))."""
    gray = bgr_to_gray(img_bgr)
    contrast = clahe(gray, 2.0, (8, 8))
    # the reference blurs the gray→BGR replication; all three channels are
    # identical, so blurring the single channel and replicating after is
    # byte-identical at a third of the work
    blurred = gaussian_blur(contrast, (0, 0), sigma=1.0)
    # 2.0*c + (-1.0)*b over uint8 inputs is integer-valued in
    # [-255, 510]: int16 arithmetic is exact, rint on integers is the
    # identity, so this equals the float64 addWeighted bit-for-bit at
    # a quarter of the memory traffic
    sharpened = contrast.astype(np.int16) * 2 - blurred.astype(np.int16)
    return gray_to_bgr(np.clip(sharpened, 0, 255).astype(np.uint8))


def preprocess_for_osd(img: np.ndarray) -> np.ndarray:
    """app.py:5399-5409 — ×2 upscale for small scans, then CLAHE.  The
    reference passes the (possibly color) image straight to CLAHE; on
    3-channel input that raises — exception parity via ``clahe``."""
    h, w = img.shape[:2]
    if h < 800:
        img = resize_cubic(img, dsize=(w * 2, h * 2))
    return clahe(img, 2.0, (8, 8))


def upscale_image(img: np.ndarray, scale: float = 2.0) -> np.ndarray:
    """app.py:5412-5415."""
    h, w = img.shape[:2]
    return resize_cubic(img, dsize=(int(w * scale), int(h * scale)))
