"""Pure-numpy image kernels — the engine's "physical operators" (SURVEY.md §2.9).

Each function re-expresses one cv2 stage from the reference's preprocessing
chain with numpy only:

- grayscale            <- cv2.cvtColor           (/root/reference/src/model/ocr_model.py:71-74)
- gaussian_blur 5x5    <- cv2.GaussianBlur       (/root/reference/src/services/table_ocr_service.py:53)
- otsu_binarize        <- cv2.adaptiveThreshold  (/root/reference/src/model/ocr_model.py:77-79;
                          the north star names the Otsu/binarization stage)
- median3              <- cv2.medianBlur ksize=3 (/root/reference/src/model/ocr_model.py:82)
- erode/dilate/open/close <- cv2.morphologyEx    (/root/reference/src/services/table_ocr_service.py:61-63)
- estimate/deskew      <- contour minAreaRect + warpAffine
                          (/root/reference/src/services/table_ocr_service.py:73-110),
                          re-modeled as integer-shear estimation (exactly invertible)

All operate on uint8 grayscale (0..255) or binary ink masks (uint8 {0,1},
1 = ink). Vectorized numpy throughout — these run inside Arrow batches on
executors, so per-pixel Python loops are forbidden.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

# Deskew search space (thousandths): ±DESKEW_MAX_SLOPE at DESKEW_STEP
# resolution, searched coarse-to-fine (DESKEW_COARSE_STEP sweep, then
# DESKEW_STEP refinement around the coarse peak). Any slope on the fine
# grid is recoverable as long as the projection-sharpness surface is
# near-unimodal (the refinement window extends past the coarse half-step
# on both sides). render.SKEW_SLOPES_MILLI must lie on the fine grid.
DESKEW_MAX_SLOPE = 120
DESKEW_STEP = 5
DESKEW_COARSE_STEP = 15
DESKEW_REFINE_SPAN = 10  # > DESKEW_COARSE_STEP / 2
DESKEW_SEARCH_SLOPES = tuple(range(-DESKEW_MAX_SLOPE, DESKEW_MAX_SLOPE + 1, DESKEW_STEP))


def rotate90_if_portrait(img: np.ndarray) -> np.ndarray:
    """Rotate 90 deg clockwise iff height > width — the reference's
    orientation heuristic for photographed documents
    (/root/reference/src/model/ocr_model.py:66-68). Exposed as a standalone
    kernel but NOT wired into the default chain: the synthetic corpus
    renders true text geometry, where a tall multi-line page is legitimate
    and rotating it would be wrong; photo-capture deployments opt in."""
    if img.shape[0] > img.shape[1]:
        return np.rot90(img, k=-1).copy()
    return img


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """HxWx3 BGR (or HxW) uint8 -> HxW uint8 grayscale (BT.601 weights)."""
    if img.ndim == 2:
        return img
    b, g, r = img[..., 0].astype(np.float32), img[..., 1].astype(np.float32), img[..., 2].astype(np.float32)
    return np.clip(0.114 * b + 0.587 * g + 0.299 * r, 0, 255).astype(np.uint8)


def _gaussian_kernel1d(ksize: int, sigma: float) -> np.ndarray:
    half = ksize // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _conv1d_axis(img: np.ndarray, kernel: np.ndarray, axis: int) -> np.ndarray:
    # float32 + in-place accumulation: the blur touches the full image (the
    # kernel's largest arrays), so halving the bytes moved matters for
    # many-core scaling (executors are memory-bandwidth-bound, not FLOP-bound)
    half = len(kernel) // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (half, half)
    padded = np.pad(img, pad, mode="edge")
    out = np.zeros(img.shape, dtype=np.float32)
    tmp = np.empty(img.shape, dtype=np.float32)
    for i, kv in enumerate(kernel):
        sl = [slice(None), slice(None)]
        sl[axis] = slice(i, i + img.shape[axis])
        np.multiply(padded[tuple(sl)], np.float32(kv), out=tmp)
        out += tmp
    return out


def gaussian_blur(img: np.ndarray, ksize: int = 5, sigma: float = 1.0) -> np.ndarray:
    """Separable 2-D Gaussian, edge-padded (cv2 BORDER_REPLICATE analog)."""
    k = _gaussian_kernel1d(ksize, sigma).astype(np.float32)
    out = _conv1d_axis(img.astype(np.float32), k, 0)
    out = _conv1d_axis(out, k, 1)
    np.rint(out, out=out)
    return np.clip(out, 0, 255).astype(np.uint8)


def _otsu_threshold_hist(hist: np.ndarray) -> int:
    """Otsu's threshold from a gray-level histogram."""
    hist = hist.astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    omega = np.cumsum(hist) / total  # class-0 probability
    mu = np.cumsum(hist * np.arange(256)) / total  # cumulative mean
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    return int(np.argmax(sigma_b))


def otsu_threshold(img: np.ndarray) -> int:
    """Otsu's between-class-variance-maximizing threshold (histogram method)."""
    return _otsu_threshold_hist(np.bincount(img.ravel(), minlength=256))


# Minimum gray-level separation between Otsu's two classes for the image to
# count as having ink at all. Otsu fails open on noise-only images (no
# bimodal structure); this gate is the kernel-level analog of the
# reference's confidence filtering of junk detections
# (/root/reference/src/model/ocr_model.py:113-115).
MIN_CLASS_SEPARATION = 70


def otsu_binarize(img: np.ndarray) -> np.ndarray:
    """Grayscale -> ink mask (1 = darker-than-threshold = ink).

    Returns an all-zero mask when the dark/light class means are closer
    than MIN_CLASS_SEPARATION (blank or noise-only image). Both means come
    from the one histogram the threshold uses: integer level sums divided
    by integer counts, the same correctly rounded quotient a float64 mean
    over the class's pixels gives, without two boolean-index passes."""
    hist = np.bincount(img.ravel(), minlength=256)
    t = _otsu_threshold_hist(hist)
    n_dark = int(hist[: t + 1].sum())
    n_light = int(hist[t + 1 :].sum())
    if n_dark == 0 or n_light == 0:
        return np.zeros_like(img, dtype=np.uint8)
    level_sum = hist * np.arange(256, dtype=np.int64)
    dark_mean = int(level_sum[: t + 1].sum()) / n_dark
    light_mean = int(level_sum[t + 1 :].sum()) / n_light
    if light_mean - dark_mean < MIN_CLASS_SEPARATION:
        return np.zeros_like(img, dtype=np.uint8)
    return (img <= t).view(np.uint8)


def adaptive_binarize(img: np.ndarray, block: int = 11, c: float = 2.0) -> np.ndarray:
    """Gaussian-weighted adaptive threshold -> ink mask (1 = ink).

    Analog of the reference's cv2.adaptiveThreshold(maxValue=255,
    ADAPTIVE_THRESH_GAUSSIAN_C, THRESH_BINARY, blockSize, C=2)
    (/root/reference/src/model/ocr_model.py:77-79 block=11;
    /root/reference/src/services/enhanced_table_ocr_service.py:58-60
    block=15). cv2 marks background where src > T(x,y) with
    T = gaussian-weighted local mean - C; our mask convention inverts that:
    ink where src <= T. sigma follows cv2.getGaussianKernel's default for
    sigma<=0: 0.3*((block-1)*0.5 - 1) + 0.8. Border handling is replicate,
    like cv2's BORDER_REPLICATE.

    Unlike global Otsu this tracks uneven illumination (a shadowed scan
    edge, a lamp gradient) — each pixel competes only with its block-sized
    neighborhood. The flip side on clean renders: large solid strokes
    thicker than `block` lose their interior (local mean ~ the stroke
    itself), which is why Otsu stays the default for the synthetic corpus
    and adaptive is the photographed/scanned-deployment option.
    """
    sigma = 0.3 * ((block - 1) * 0.5 - 1) + 0.8
    k = _gaussian_kernel1d(block, sigma).astype(np.float32)
    local = _conv1d_axis(img.astype(np.float32), k, 0)
    local = _conv1d_axis(local, k, 1)
    return (img.astype(np.float32) <= local - np.float32(c)).astype(np.uint8)


SHARPEN_KERNEL = np.array([[-1, -1, -1], [-1, 9, -1], [-1, -1, -1]], dtype=np.float64)


def sharpen(img: np.ndarray) -> np.ndarray:
    """3x3 sharpen filter (reference filter2D kernel,
    /root/reference/src/services/table_ocr_service.py:112-126)."""
    padded = np.pad(img.astype(np.float64), 1, mode="edge")
    out = np.zeros(img.shape, dtype=np.float64)
    for dy in range(3):
        for dx in range(3):
            out += SHARPEN_KERNEL[dy, dx] * padded[
                dy : dy + img.shape[0], dx : dx + img.shape[1]
            ]
    return np.clip(out, 0, 255).astype(np.uint8)


def median3(mask: np.ndarray) -> np.ndarray:
    """3x3 median on a binary mask == majority vote of the 9-neighborhood.

    Kills isolated salt noise exactly like the reference's medianBlur stage.
    """
    # separable box sum (rows then cols): 6 passes instead of 9, exact —
    # integer addition is associative, so the 3x3 neighborhood sum is
    # identical to the unseparated form
    h, w = mask.shape
    padded = np.pad(mask, 1, mode="constant", constant_values=0)
    vert = padded[0 : h, :].astype(np.int16)
    vert += padded[1 : h + 1, :]
    vert += padded[2 : h + 2, :]
    acc = vert[:, 0:w].copy()
    acc += vert[:, 1 : w + 1]
    acc += vert[:, 2 : w + 2]
    return (acc >= 5).astype(np.uint8)


def _shift2d(mask: np.ndarray, dy: int, dx: int) -> np.ndarray:
    out = np.zeros_like(mask)
    h, w = mask.shape
    ys = slice(max(dy, 0), min(h + dy, h))
    xs = slice(max(dx, 0), min(w + dx, w))
    yd = slice(max(-dy, 0), min(h - dy, h))
    xd = slice(max(-dx, 0), min(w - dx, w))
    out[ys, xs] = mask[yd, xd]
    return out


def dilate(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Binary dilation with a kh x kw rect structuring element."""
    out = np.zeros_like(mask)
    for dy in range(-(kh // 2), kh - kh // 2):
        for dx in range(-(kw // 2), kw - kw // 2):
            np.maximum(out, _shift2d(mask, dy, dx), out=out)
    return out


def erode(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Binary erosion with a kh x kw rect structuring element."""
    out = np.ones_like(mask)
    for dy in range(-(kh // 2), kh - kh // 2):
        for dx in range(-(kw // 2), kw - kw // 2):
            shifted = _shift2d(mask, dy, dx)
            np.minimum(out, shifted, out=out)
    return out


def morph_open(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return dilate(erode(mask, kh, kw), kh, kw)


def morph_close(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return erode(dilate(mask, kh, kw), kh, kw)


def _antidiagonal_sums(a: np.ndarray) -> np.ndarray:
    """c[j] = sum over k of a[k, j - k], for a 2-D array: each row laid
    into a zero row one element wider than the next, so a flat reshape
    shifts row k right by k and a column sum adds the diagonals. Works on
    the transpose when there are more rows than columns (the sums are the
    same), so the buffer stays within twice the array's size."""
    if a.shape[0] > a.shape[1]:
        a = a.T
    n, w = a.shape
    z = np.zeros((n, w + n), dtype=a.dtype)
    z[:, :w] = a
    return z.ravel()[: n * (w + n - 1)].reshape(n, w + n - 1).sum(axis=0)


def _coarse_to_fine(
    score: Callable[[int], float], limit: int, coarse_step: int, span: int, fine_step: int
) -> dict[int, float]:
    """{candidate: score} of a two-stage search over [-limit, limit]: every
    ``coarse_step`` point, then every ``fine_step`` point within ``span``
    of EACH coarse point within 0.5% of the best coarse score — a
    non-unimodal surface (periodic vertical patterns, two stroke families)
    can put the true fine-grid optimum next to the second coarse peak.
    The caller makes the final pick."""
    scores = {v: score(v) for v in range(-limit, limit + 1, coarse_step)}
    best_coarse = max(scores.values())
    centers = [v for v, sc in scores.items() if sc >= best_coarse * 0.995]
    for center in centers:
        for v in range(center - span, center + span + 1, fine_step):
            if v not in scores and -limit <= v <= limit:
                scores[v] = score(v)
    return scores


def estimate_shear_slope_milli(mask: np.ndarray) -> int:
    """Estimate the horizontal shear applied to an ink mask.

    For each candidate slope, un-shear ink pixel x-coords and score the
    sharpness of the column projection (sum of squared column counts) —
    maximal when vertical strokes re-align. Analog of the reference's
    minAreaRect angle estimate (/root/reference/src/services/table_ocr_service.py:90-103);
    a |slope| below ~0.5 px/k-rows is treated as straight, like the
    reference's 0.5-degree dead-band.
    """
    h, w = mask.shape
    # The un-shear shift round(y * slope) depends only on the row and, for
    # |slope| < 1, steps by at most one between rows, so the rows of one
    # slope fall into bands of equal shift whose band k is shifted k
    # columns from band 0. A band's column profile is the difference of
    # two rows of ONE row prefix sum, and the un-sheared projection is the
    # sum of the band profiles along the diagonals — O(bands x width) per
    # slope instead of re-binning every ink pixel, and O(pixels) memory
    # for any slope. Bit-identical to binning the pixels: the same
    # float64 round() decides each row's shift, and the counts and the
    # sum of squares are exact integers.
    prefix = np.zeros((h + 1, w), dtype=np.int32)
    np.cumsum(mask, axis=0, dtype=np.int32, out=prefix[1:])
    if not prefix[h].any():
        return 0
    rows = np.arange(h, dtype=np.float64)

    def _score(sm: int) -> float:
        shift = np.round(rows * (sm / 1000.0))
        bounds = np.concatenate(([0], np.flatnonzero(shift[1:] != shift[:-1]) + 1, [h]))
        edges = prefix[bounds]
        bands = edges[1:] - edges[:-1]
        counts = _antidiagonal_sums(bands[::-1] if sm > 0 else bands)
        return float(np.dot(counts, counts))

    # ~21 projections instead of 49 for the step-5 grid; the ±10 refinement
    # exceeds the coarse half-step (7.5), so any fine-grid slope is
    # reachable. 0 is always scored, so the plateau rule can pick "straight".
    scores = _coarse_to_fine(
        _score, DESKEW_MAX_SLOPE, DESKEW_COARSE_STEP, DESKEW_REFINE_SPAN, DESKEW_STEP
    )
    # Scores within 0.5% of the max are statistically indistinguishable
    # (binarization noise on anti-aliased step edges); among those
    # near-ties choose the SMALLEST |slope| — the least destructive
    # correction. Fixes narrow single-glyph masks, where the score surface
    # is a flat plateau and a spurious off-by-plateau argmax would shear a
    # straight glyph into a different one.
    best = max(scores.values())
    return min(
        (sm for sm, sc in scores.items() if sc >= best * 0.995),
        key=lambda s: (abs(s), s),
    )


def unshear(mask: np.ndarray, slope_milli: int) -> np.ndarray:
    """Invert an integer horizontal shear on an ink mask (exact)."""
    if slope_milli == 0:
        return mask
    h, w = mask.shape
    shifts = np.round(np.arange(h) * (slope_milli / 1000.0)).astype(np.int64)
    lo = int(min(shifts.min(), 0))
    out = np.zeros_like(mask)
    for y in range(h):
        s = -lo + int(shifts[y])
        row = mask[y]
        if s == 0:
            out[y] = row
        elif s > 0:
            out[y, : w - s] = row[s:]
    return out


def deskew(mask: np.ndarray) -> np.ndarray:
    """Estimate + invert shear; dead-band below 2/1000 like the reference's 0.5 deg."""
    sm = estimate_shear_slope_milli(mask)
    if abs(sm) < 3:
        return mask
    return unshear(mask, sm)


# ---------------------------------------------------------------- rotation
# True small-angle rotation deskew — the reference's minAreaRect angle +
# warpAffine semantic (/root/reference/src/services/table_ocr_service.py:
# 73-110), which displaces y as well as x; the shear model above cannot
# express that. Angle unit: millidegrees. Search window covers the scan
# skew the reference corrects (its minAreaRect path mostly sees a few
# degrees); the dead-band mirrors the reference's `abs(angle) > 0.5`.
ROTATION_MAX_MILLIDEG = 5000
ROTATION_COARSE_STEP = 500
ROTATION_FINE_STEP = 100
ROTATION_DEAD_BAND_MILLIDEG = 500


def rotate_mask(mask: np.ndarray, millideg: int, fill: int = 0) -> np.ndarray:
    """Rotate 2-D CONTENT by millideg/1000 degrees about the center
    (positive = text lines tilt down to the right in image coords),
    nearest-neighbor inverse mapping on the same-size canvas — the
    warpAffine analog for binary masks (cubic interpolation is meaningless
    on {0,1}). ``fill`` paints out-of-frame samples: 0 (background) for
    ink masks; pass the page background level when rotating grayscale
    (replicating edge ink would smear strokes, so no BORDER_REPLICATE)."""
    if millideg == 0:
        return mask.copy()
    h, w = mask.shape
    t = np.deg2rad(millideg / 1000.0)
    c, s = np.cos(t), np.sin(t)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    yy, xx = np.mgrid[0:h, 0:w]
    dx, dy = xx - cx, yy - cy
    xs = np.rint(c * dx + s * dy + cx).astype(np.int64)
    ys = np.rint(-s * dx + c * dy + cy).astype(np.int64)
    valid = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    out = np.full_like(mask, fill)
    out[valid] = mask[ys[valid], xs[valid]]
    return out


def estimate_rotation_millideg(mask: np.ndarray) -> int:
    """Estimate the rotation applied to an ink mask.

    For each candidate angle, rotate ink-pixel coordinates and score the
    sharpness of the ROW projection (sum of squared per-row counts) —
    maximal when horizontal text lines re-align. Searched by
    ``_coarse_to_fine``, as the shear estimator is; returns the angle r
    such that the mask looks like content rotated by r (so the inverse
    correction is rotate_mask(mask, -r))."""
    ys, xs = np.nonzero(mask)
    if len(ys) == 0:
        return 0
    ysf = ys.astype(np.float64)
    xsf = xs.astype(np.float64)

    def _score(md: int) -> float:
        t = np.deg2rad(md / 1000.0)
        yp = np.round(np.cos(t) * ysf - np.sin(t) * xsf).astype(np.int64)
        yp -= yp.min()
        counts = np.bincount(yp)
        return float((counts.astype(np.float64) ** 2).sum())

    # refine ±one coarse step: past the coarse half-step on both sides
    top, coarse = ROTATION_MAX_MILLIDEG, ROTATION_COARSE_STEP
    scores = _coarse_to_fine(_score, top, coarse, coarse, ROTATION_FINE_STEP)
    # Final pick is a PURE argmax (deterministic smaller-|angle| tie-break)
    # — unlike the shear estimator's 0.5% plateau rule, which here would
    # systematically bias the angle toward zero by up to 1.5 fine steps
    # and leave residual skew that matters at the far edge of wide lines.
    # Flat-surface inputs (single glyphs) are protected by the 0.5 deg
    # dead-band in derotate instead: sub-degree rotations of a 9px glyph
    # displace corners < 0.5px, a near-no-op.
    return max(scores, key=lambda m: (scores[m], -abs(m), -m))


def derotate(mask: np.ndarray) -> np.ndarray:
    """Estimate + invert true rotation, dead-band 0.5 deg (the reference's
    `if abs(angle) > 0.5` gate, table_ocr_service.py:103). The opt-in
    deskew for genuinely rotated scans; the default shear path stays
    exactly invertible for the synthetic corpus."""
    r = estimate_rotation_millideg(mask)
    if abs(r) <= ROTATION_DEAD_BAND_MILLIDEG:
        return mask
    return rotate_mask(mask, -r)
