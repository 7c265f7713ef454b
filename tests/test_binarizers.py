"""Binarizer matrix: global Otsu (default) vs the reference's adaptive
Gaussian threshold (cv2.adaptiveThreshold GAUSSIAN_C block=11/15 C=2 —
/root/reference/src/model/ocr_model.py:77-79,
/root/reference/src/services/enhanced_table_ocr_service.py:58-60), plus the
opt-in portrait rotation (ocr_model.py:66-68).

- Evenly lit renders: both binarizers must produce identical recognition.
- Gradient-lit renders (the case adaptive exists for): Otsu collapses,
  adaptive recovers the text to low CER.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_text_recognition_spark.kernel import imageops, recognize, reference_kernel, render

LINES = ["spark scan filter join", "batch stream window value"]
EXPECTED = "SPARK SCAN FILTER JOIN\nBATCH STREAM WINDOW VALUE"


def _cer(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    d = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, d[0] = d[0], i
        for j in range(1, lb + 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
    return d[lb] / max(la, 1)


def _gradient(img: np.ndarray, floor: float = 0.4) -> np.ndarray:
    ramp = np.linspace(1.0, floor, img.shape[1], dtype=np.float64)[None, :]
    return np.clip(img.astype(np.float64) * ramp, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("binarizer,block", [("otsu", 11), ("adaptive", 11)])
def test_uniform_lighting_both_paths_exact(binarizer, block):
    img = render.render_text_image(LINES)
    mask = reference_kernel.preprocess_image(img, binarizer=binarizer, adaptive_block=block)
    assert recognize.recognize_text(mask) == EXPECTED


def test_uniform_lighting_block15_near_exact():
    """block=15 hollows wide-stroke interiors slightly (local mean tracks
    the stroke itself) — a documented property of wider adaptive blocks;
    bound the damage at one glyph rather than pretending exactness."""
    img = render.render_text_image(LINES)
    mask = reference_kernel.preprocess_image(img, binarizer="adaptive", adaptive_block=15)
    assert _cer(EXPECTED, recognize.recognize_text(mask)) <= 0.05


@pytest.mark.parametrize("seed", range(6))
def test_uniform_lighting_fuzz_matrix_agrees(seed):
    """On evenly-lit renders the two binarizers must agree exactly — the
    semantic divergence is confined to uneven illumination."""
    rng = np.random.default_rng(100 + seed)
    words = rng.choice(
        "spark scan filter join merge sort batch stream window value".split(), 4
    ).tolist()
    img = render.render_text_image([" ".join(words)])
    out = {
        b: recognize.recognize_text(reference_kernel.preprocess_image(img, binarizer=b))
        for b in ("otsu", "adaptive")
    }
    assert out["otsu"] == out["adaptive"] == " ".join(words).upper()


@pytest.mark.parametrize("block", [11, 15])
def test_gradient_lighting_adaptive_recovers(block):
    grad = _gradient(render.render_text_image(LINES))
    adaptive = recognize.recognize_text(
        reference_kernel.preprocess_image(grad, binarizer="adaptive", adaptive_block=block)
    )
    otsu = recognize.recognize_text(reference_kernel.preprocess_image(grad, binarizer="otsu"))
    assert _cer(EXPECTED, adaptive) < 0.10, adaptive
    assert _cer(EXPECTED, otsu) > 0.5, otsu


def test_adaptive_blank_image_no_ink():
    """Flat background: local mean == pixel, so pixel <= mean - C is never
    true — no phantom ink (the analog of Otsu's class-separation gate)."""
    flat = np.full((40, 80), 230, dtype=np.uint8)
    assert imageops.adaptive_binarize(flat).sum() == 0


def test_rotate_portrait_opt_in():
    img = render.render_text_image(LINES)
    portrait = np.rot90(img, k=1)  # CCW -> portrait orientation
    assert portrait.shape[0] > portrait.shape[1]
    # default chain: no rotation -> garbage or empty on rotated text
    default = recognize.recognize_text(reference_kernel.preprocess_image(portrait))
    # opt-in flag restores orientation and recognition
    rotated = recognize.recognize_text(
        reference_kernel.preprocess_image(portrait, rotate_portrait=True)
    )
    assert rotated == EXPECTED
    assert default != EXPECTED


def test_rotate90_if_portrait():
    portrait = np.zeros((30, 10), np.uint8)
    portrait[0, 0] = 255  # top-left marker
    rot = imageops.rotate90_if_portrait(portrait)
    assert rot.shape == (10, 30)
    assert rot[0, -1] == 255  # CW: top-left -> top-right
    landscape = np.zeros((10, 30), np.uint8)
    assert imageops.rotate90_if_portrait(landscape) is landscape


def test_sharpen_increases_edge_contrast():
    img = np.full((20, 20), 200, np.uint8)
    img[8:12, 8:12] = 100
    sharp = imageops.sharpen(img)
    # edges get pushed apart; flat interior far from edges unchanged
    assert sharp[0, 0] == 200
    assert int(sharp[8, 8]) < 100  # dark pixel next to bright edge gets darker


def test_recognize_media_bytes_kwargs_passthrough():
    from ocr_text_recognition_spark.kernel.imgcodec import encode_image

    grad = _gradient(render.render_text_image(["spark scan"]))
    payload = encode_image(grad)
    via_adaptive = reference_kernel.recognize_media_bytes(payload, binarizer="adaptive")
    assert _cer("SPARK SCAN", via_adaptive) < 0.2


@pytest.mark.parametrize(
    "kwargs",
    [
        {"denoise": "morph"},
        {"sharpen_first": True},
        {"sharpen_first": True, "denoise": "morph"},
    ],
)
def test_enhanced_chain_variants_exact(kwargs):
    """The reference's enhanced-chain stages (morph close 3x3 + open 2x2,
    enhanced_table_ocr_service.py:63-69; sharpen filter,
    table_ocr_service.py:112-126) are selectable and lossless on clean
    renders."""
    img = render.render_text_image(LINES)
    mask = reference_kernel.preprocess_image(img, **kwargs)
    assert recognize.recognize_text(mask) == EXPECTED


def test_enhanced_chain_table_roundtrip():
    """Full enhanced preset (adaptive block=15 + morph denoise) recovers a
    ruled grade table exactly."""
    from ocr_text_recognition_spark.kernel import tableparse

    rows = [["Subject", "HK1", "HK2"], ["Math", "8.5", "9,0"]]
    img = render.render_table_image(rows)
    mask = reference_kernel.preprocess_image(
        img, binarizer="adaptive", adaptive_block=15, denoise="morph"
    )
    assert tableparse.extract_table(mask) == [
        ["SUBJECT", "HK1", "HK2"],
        ["MATH", "8.5", "9,0"],
    ]
