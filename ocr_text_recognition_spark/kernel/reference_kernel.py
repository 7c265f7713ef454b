"""The complete per-image kernel, assembled.

This is the single-machine (no Spark) path that corpus.make_golden uses to
FREEZE golden fixtures; the Spark pipeline (extraction/pipeline.py) must
reproduce its output with span-sequence equality (kind, text, media_ref,
order) per document — the north-rule invariant (BASELINE.json:15).

Chain mirrors the reference's preprocessing order
(/root/reference/src/model/ocr_model.py:55-84 and
/root/reference/src/services/enhanced_table_ocr_service.py:38-77):
grayscale -> Gaussian blur 5x5 -> binarize (Otsu) -> median denoise ->
deskew -> (ruled grid? table path : free-text path).
"""

from __future__ import annotations

import inspect

import numpy as np

from ocr_text_recognition_spark.kernel import imageops, recognize, tableparse
from ocr_text_recognition_spark.kernel.imgcodec import decode_image

# Serialization of a recognized table into one span text: cells joined by
# ' | ' (not in the glyph atlas, so unambiguous), rows by newline.
CELL_SEP = " | "

# The values each preprocess_image option takes (its default is in the
# signature, see PREPROCESS_DEFAULTS); adaptive_block takes any odd int > 1,
# as cv2's blockSize.
PREPROCESS_OPTIONS = {
    "binarizer": ("otsu", "adaptive"),
    "denoise": ("median", "morph"),
    "deskew": ("shear", "rotation"),
    "rotate_portrait": (False, True),
    "sharpen_first": (False, True),
}


def check_preprocess_options(options: dict) -> None:
    """Raise ValueError naming the first key of ``options`` that is not a
    preprocess_image option, or whose value that option does not take:
    preprocess_image runs the default stage for an unknown choice, so a
    misspelled option would otherwise change nothing, silently."""
    for name, value in options.items():
        if name == "adaptive_block":
            ok = isinstance(value, (int, np.integer)) and value > 1 and value % 2 == 1
        elif name in PREPROCESS_DEFAULTS:
            ok = value in PREPROCESS_OPTIONS[name]
        else:
            raise ValueError(f"unknown kernel option {name!r}")
        if not ok:
            raise ValueError(f"kernel option {name}={value!r} is not valid")


def preprocess_image(
    img: np.ndarray,
    binarizer: str = "otsu",
    adaptive_block: int = 11,
    rotate_portrait: bool = False,
    denoise: str = "median",
    sharpen_first: bool = False,
    deskew: str = "shear",
) -> np.ndarray:
    """Raw image -> cleaned, deskewed, despeckled binary ink mask.

    ``binarizer``: 'otsu' (default — the north star names the Otsu stage;
    correct for the evenly-lit synthetic corpus) or 'adaptive' (the
    reference's cv2.adaptiveThreshold(GAUSSIAN_C, block=11/15, C=2)
    semantic, ocr_model.py:77-79 / enhanced_table_ocr_service.py:58-60 —
    the choice for unevenly-lit scans/photos; see
    imageops.adaptive_binarize for the trade-off).
    ``rotate_portrait``: opt-in 90-degree rotation of portrait images
    (ocr_model.py:66-68) for photo-capture deployments; off by default
    because the synthetic corpus renders true text geometry.
    ``denoise``: 'median' (default — ocr_model.py:82 medianBlur) or
    'morph' (the enhanced table chain's close 3x3 + open 2x2,
    enhanced_table_ocr_service.py:63-69).
    ``sharpen_first``: apply the 3x3 sharpen filter to the grayscale
    before blur+binarize (table_ocr_service.py:112-126 preprocessing
    variant for low-contrast scans); off by default.
    ``deskew``: 'shear' (default — integer-shear model, exactly invertible
    and fixture-exact for the synthetic corpus) or 'rotation' (true
    small-angle rotation estimate + inverse, the reference's
    minAreaRect+warpAffine semantic, table_ocr_service.py:73-110 — the
    choice for genuinely rotated scans, where y displaces too).

    Despeckling (connected-component area filter) runs ONCE here rather
    than per text line / per table cell — one labeling pass per image."""
    if rotate_portrait:
        img = imageops.rotate90_if_portrait(img)
    gray = imageops.to_grayscale(img)
    if sharpen_first:
        gray = imageops.sharpen(gray)
    blur = imageops.gaussian_blur(gray, ksize=5, sigma=1.0)
    if binarizer == "adaptive":
        mask = imageops.adaptive_binarize(blur, block=adaptive_block, c=2.0)
    else:
        mask = imageops.otsu_binarize(blur)
    if denoise == "morph":
        mask = imageops.morph_open(imageops.morph_close(mask, 3, 3), 2, 2)
    else:
        mask = imageops.median3(mask)
    if deskew == "rotation":
        mask = imageops.derotate(mask)
    else:
        mask = imageops.deskew(mask)
    from ocr_text_recognition_spark.kernel import segment

    return segment.remove_specks(mask)


# preprocess_image's options and their defaults, read off its signature.
PREPROCESS_DEFAULTS = {
    name: param.default
    for name, param in inspect.signature(preprocess_image).parameters.items()
    if name != "img"
}


def recognize_media_bytes(data: bytes | None, **preprocess_kwargs) -> str:
    """Media payload -> extracted text.

    Table images serialize as rows of CELL_SEP-joined cells; free-text
    images as newline-joined lines; undecodable/blank payloads -> ''
    (the reference's empty-result fallback, table_ocr_service.py:216-219).
    ``preprocess_kwargs`` pass through to preprocess_image (binarizer=
    'adaptive', rotate_portrait=True for photo/scan deployments).
    """
    if not data:
        return ""
    try:
        img = decode_image(bytes(data))
    except Exception:
        return ""
    mask = preprocess_image(img, **preprocess_kwargs)
    table = tableparse.extract_table(mask)
    if table is not None:
        return "\n".join(CELL_SEP.join(row) for row in table)
    return recognize.recognize_text(mask)
