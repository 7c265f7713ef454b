"""Line / glyph / component segmentation (pure numpy).

Re-expresses the reference's segmentation stack:
- projection-profile line detection (/root/reference/src/services/table_ocr_service.py:150-188)
- connected-component finding <- cv2.findContours
  (/root/reference/src/services/table_ocr_service.py:84) — the north star's
  "connected-component line/word segmentation"
- 1-D gap clustering / scanline merge (/root/reference/src/services/table_ocr_service.py:176-188)
"""

from __future__ import annotations

import numpy as np

# Drop components smaller than this many pixels (speck filter; analog of the
# reference's <=10px cell-size predicate, enhanced_table_ocr_service.py:208).
# The smallest real glyph component at render SCALE=3 is '.' = 36 px; noise
# clusters that survive the median filter stay well under 20.
MIN_COMPONENT_AREA = 20
# Column gap >= this many px separates words. Measured at render SCALE=3:
# word gaps run 14-15 px and shrink to ~13 under shear drift, intra-word
# gaps run <= 12 px — EXCEPT after a narrow glyph (',' '.' ':' — ink <=
# NARROW_GLYPH_PX wide), whose mostly-empty cell inflates the following
# gap to ~13; a real space there measures ~21 px, so those gaps use the
# larger threshold.
WORD_GAP_PX = 13
NARROW_GLYPH_PX = 8
WORD_GAP_AFTER_NARROW_PX = 18


def _label_runs(m: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Row runs of a bool mask that has ink, and each run's component.

    Returns (flat, is_start, lengths, roots): the mask padded with one
    background column (so runs break at row ends) and flattened, its
    run-start flags, each run's pixel count, and roots[k] = the smallest
    run index of run k's 8-connected component (1-based; roots[0] = 0).
    All per-pixel work is a few elementwise passes; adjacency is computed
    on the RUN LIST, not per pixel: runs are column intervals, two runs in
    consecutive rows are 8-adjacent iff their intervals overlap after
    dilating the upper one by 1, and because runs are globally sorted by
    (row, start) — with ends equally sorted — each below-run's adjacent
    above-runs form one contiguous index range found by two searchsorted
    calls over row-offset interval keys, each (above, below) pair emitted
    exactly once. The merge hooks the larger root of every edge that still
    joins two trees onto the smaller root, then flattens the forest by
    pointer jumping: O(log runs) rounds instead of one per unit of
    component diameter, and every root ends at its component's minimum
    run index (nothing in a component is smaller, and hooks only lower).
    """
    h, w = m.shape
    w1 = w + 1
    padded = np.zeros((h, w1), dtype=bool)
    padded[:, :w] = m
    flat = padded.ravel()
    is_start = np.empty_like(flat)
    is_start[0] = flat[0]
    np.greater(flat[1:], flat[:-1], out=is_start[1:])
    is_end = np.empty_like(flat)
    is_end[-1] = False  # the padding column is never ink
    np.greater(flat[:-1], flat[1:], out=is_end[:-1])
    # run k is the k-th start; both offset keys strictly increase with k
    pos_start = np.flatnonzero(is_start)
    pos_end = np.flatnonzero(is_end)  # inclusive
    rows = pos_start // w1
    starts = pos_start - rows * w1
    ends = pos_end - rows * w1

    # For each below-run b (any row r >= 1): adjacent above-runs a in row
    # r-1 satisfy a.start <= b.end+1 AND a.end >= b.start-1. Clamping the
    # query columns to [0, w] keeps the offset keys inside row r-1's key
    # range, so searchsorted can never leak into rows r-2 or r.
    roots = np.arange(len(pos_start) + 1, dtype=np.int64)
    bsel = np.flatnonzero(rows >= 1)
    up = (rows[bsel] - 1) * np.int64(w1)
    lo = np.searchsorted(pos_end, up + np.maximum(starts[bsel] - 1, 0), "left")
    hi = np.searchsorted(pos_start, up + np.minimum(ends[bsel] + 1, w), "right") - 1
    counts = np.maximum(hi - lo + 1, 0)
    eb = np.repeat(bsel + 1, counts)
    ea = np.arange(len(eb), dtype=np.int64) - np.repeat(np.cumsum(counts) - counts - lo - 1, counts)
    while True:
        ra, rb = roots[ea], roots[eb]
        cross = ra != rb
        if not cross.any():
            break
        ea, eb, ra, rb = ea[cross], eb[cross], ra[cross], rb[cross]
        np.minimum.at(roots, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            nxt = roots[roots]
            if np.array_equal(nxt, roots):
                break
            roots = nxt
    return flat, is_start, pos_end - pos_start + 1, roots


def _run_image(flat: np.ndarray, is_start: np.ndarray, shape: tuple[int, int]) -> np.ndarray:
    """HxW int32 image of 1-based run ids (0 = background)."""
    run_id = np.cumsum(is_start, dtype=np.int32)
    run_id[~flat] = 0
    return run_id.reshape(shape[0], shape[1] + 1)[:, : shape[1]]


def connected_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Union-find labeling over row-runs, 8-connectivity, fully vectorized
    (see ``_label_runs``).

    Returns (labels HxW int32 with 0 = background, n_labels), labels
    numbered in raster order of each component's first run."""
    h, w = mask.shape
    m = mask.astype(bool, copy=False)
    if not m.any():
        return np.zeros((h, w), dtype=np.int32), 0
    flat, is_start, _, roots = _label_runs(m)
    uniq = np.unique(roots[1:])
    # explicit dtype: np.concatenate(([0], ...)) would promote to int64
    # and break the documented int32 label-image contract
    remap = np.empty(len(roots), dtype=np.int32)
    remap[0] = 0
    remap[1:] = np.searchsorted(uniq, roots[1:]) + 1
    return remap[_run_image(flat, is_start, (h, w))], len(uniq)


def remove_specks(mask: np.ndarray, min_area: int = MIN_COMPONENT_AREA) -> np.ndarray:
    """Drop connected components with area < min_area; returns a uint8
    0/1 mask (an ink-free mask comes back as it is).

    Component areas are summed from run lengths, so no label image is
    built. When no component is below min_area (no benchmark-corpus image
    has one after the median filter) the result is the ink mask itself as
    0/1 uint8; otherwise a run-id image maps each kept run back to pixels."""
    if not mask.any():
        return mask
    m = mask != 0
    flat, is_start, lengths, roots = _label_runs(m)
    areas = np.bincount(roots[1:], weights=lengths)
    keep = np.empty(len(roots), dtype=bool)
    keep[0] = False
    np.greater_equal(areas[roots[1:]], min_area, out=keep[1:])
    if keep[1:].all():
        return m.view(np.uint8)
    return keep[_run_image(flat, is_start, m.shape)].view(np.uint8)


def _runs(active: np.ndarray, min_gap: int = 1) -> list[tuple[int, int]]:
    """Contiguous [start, end) runs of True, merging gaps < min_gap."""
    idx = np.nonzero(active)[0]
    if len(idx) == 0:
        return []
    breaks = np.nonzero(np.diff(idx) > min_gap)[0]
    starts = np.concatenate(([idx[0]], idx[breaks + 1]))
    ends = np.concatenate((idx[breaks] + 1, [idx[-1] + 1]))
    return list(zip(starts.tolist(), ends.tolist()))


def segment_lines(mask: np.ndarray) -> list[tuple[int, int]]:
    """Text-line bands [(top, bottom)) from the row projection profile.

    min_gap=4: multi-part glyphs whose parts stack vertically ('=', ':')
    have <= 3 blank rows between parts at render SCALE=3 and must stay one
    band; real line spacing is >= 9 blank rows."""
    return _runs(mask.sum(axis=1) > 0, min_gap=4)


def segment_glyph_boxes(line_mask: np.ndarray) -> list[tuple[int, int, bool]]:
    """Per-glyph column runs within one line band.

    Returns [(left, right, space_before)] — ``space_before`` marks a word
    gap (>= WORD_GAP_PX blank columns) before this glyph.
    """
    cols = line_mask.sum(axis=0) > 0
    runs = _runs(cols, min_gap=1)
    out: list[tuple[int, int, bool]] = []
    prev_end: int | None = None
    prev_width = 0
    for s, e in runs:
        gap_needed = (
            WORD_GAP_AFTER_NARROW_PX if prev_width <= NARROW_GLYPH_PX else WORD_GAP_PX
        )
        space = prev_end is not None and (s - prev_end) >= gap_needed
        out.append((s, e, space))
        prev_end, prev_width = e, e - s
    return out


def merge_1d(coords: np.ndarray, gap: int) -> list[int]:
    """Scanline merge: cluster sorted 1-D coords closer than ``gap``, emit
    rounded cluster means (reference table_ocr_service.py:176-188). This is
    the same gap-sessionization the Spark layer does with lag+sum windows.
    """
    if len(coords) == 0:
        return []
    coords = np.sort(np.asarray(coords))
    breaks = np.nonzero(np.diff(coords) > gap)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks + 1, [len(coords)]))
    return [int(round(float(coords[s:e].mean()))) for s, e in zip(starts, ends)]
