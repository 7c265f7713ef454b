"""Opaque-binary image codec.

The reference decodes PNG/JPEG via cv2 (/root/reference/src/model/ocr_model.py:33-53).
This container has no image codec libs, so media payloads use a tiny
deterministic container format ("IMG1"): zlib-compressed uint8 grayscale
pixels plus a height/width header. The Spark side treats the column as an
opaque ``binary`` exactly as it would PNG bytes; swapping in
``cv2.imdecode`` for real deployments only changes this module.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"IMG1"
# Header pixel cap, checked before inflating (PIL's default
# Image.MAX_IMAGE_PIXELS); the largest corpus image is ~72k px.
MAX_PIXELS = 89_478_485


def encode_image(img: np.ndarray) -> bytes:
    """Grayscale uint8 HxW ndarray -> bytes."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError(f"expected 2-D uint8 image, got {img.shape} {img.dtype}")
    h, w = img.shape
    return _MAGIC + struct.pack("<II", h, w) + zlib.compress(img.tobytes(), 6)


def decode_image(data: bytes) -> np.ndarray:
    """Bytes -> grayscale uint8 HxW ndarray. Raises ValueError on corrupt
    input, including a header with a zero height or width.

    Inflates at most h*w + 1 bytes, so a payload whose stream expands past
    its header's size (a decompression bomb) costs no more memory than the
    image it claims to be."""
    if len(data) < 12 or data[:4] != _MAGIC:
        raise ValueError("not an IMG1 payload")
    h, w = struct.unpack("<II", data[4:12])
    if h == 0 or w == 0:
        # no pixel to recognize, and the blur's edge padding cannot pad an
        # empty axis: a corrupt payload like any other
        raise ValueError(f"corrupt IMG1 payload: zero-pixel image {h}x{w}")
    if h * w > MAX_PIXELS:
        raise ValueError(f"IMG1 payload too large: {h}x{w} exceeds {MAX_PIXELS} pixels")
    d = zlib.decompressobj()
    try:
        raw = d.decompress(data[12:], h * w + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt IMG1 payload: {e}") from None
    if not d.eof or len(raw) != h * w or d.unconsumed_tail or d.unused_data:
        raise ValueError("corrupt IMG1 payload: size mismatch")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
