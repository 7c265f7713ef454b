"""Ruled-table structure recovery (pure numpy).

Re-expresses the reference's enhanced table pipeline
(/root/reference/src/services/enhanced_table_ocr_service.py):
- line detection <- 50x1 / 1x50 morphological opening + HoughLinesP
  (enhanced_table_ocr_service.py:145-174), here long-run projection profiles
- scanline merge of nearby line coords (<10 px)
  (/root/reference/src/services/table_ocr_service.py:176-188)
- grid cell cross-join of consecutive h x v intervals
  (enhanced_table_ocr_service.py:200-218)
- <=10 px cell-size predicate (enhanced_table_ocr_service.py:208)
- per-cell crop + OCR (enhanced_table_ocr_service.py:236-259)
"""

from __future__ import annotations

import numpy as np

from ocr_text_recognition_spark.kernel import recognize, segment

# A rule is a scanline whose longest CONTIGUOUS ink run covers >= this
# fraction of the grid extent. Contiguity is what the reference's long
# 50x1 / 1x50 morphological opening kernels enforce — glyph strokes are
# short runs broken at cell boundaries, real rules span the grid.
RULE_COVERAGE = 0.8
# Merge detected rule coordinates closer than this (reference: 10 px).
RULE_MERGE_GAP = 10
# Minimum cell height/width (reference: 10 px).
MIN_CELL_PX = 10
# Inset applied when cropping a cell, to exclude the rules themselves.
CELL_INSET = 4


def _max_run_per_col(block: np.ndarray) -> np.ndarray:
    """Longest contiguous ink run per column, fully vectorized: columns are
    flattened column-major with a zero separator row so every run ends,
    run extents come from one diff, and a grouped max assigns each run's
    length to its column (no per-row Python; ~2x the rolling-max loop)."""
    h, w = block.shape
    if w == 0:
        # zero-width block: no columns, no runs (the rolling-max loop's
        # empty-array contract — flat[0] below would raise otherwise)
        return np.zeros(0, dtype=np.int32)
    padded = np.zeros((h + 1, w), dtype=bool)
    padded[:h] = block.astype(bool, copy=False)
    flat = padded.T.ravel()
    d = np.diff(flat.astype(np.int8))
    starts = np.nonzero(d == 1)[0] + 1
    if flat[0]:
        starts = np.concatenate(([0], starts))
    ends = np.nonzero(d == -1)[0] + 1
    best = np.zeros(w, dtype=np.int32)
    np.maximum.at(best, starts // (h + 1), ends - starts)
    return best


def _rule_lines(block: np.ndarray, ink: np.ndarray, extent: int) -> np.ndarray:
    """Indices of the columns of ``block`` whose longest ink run covers
    >= RULE_COVERAGE of ``extent``. A run never exceeds its column's ink
    count ``ink`` and both are divided by the same extent, so a column
    whose count misses the bar cannot hold a rule and is never scanned."""
    cand = np.flatnonzero(ink / extent >= RULE_COVERAGE)
    run = _max_run_per_col(block[:, cand])
    return cand[run / extent >= RULE_COVERAGE]


def detect_rules(mask: np.ndarray) -> tuple[list[int], list[int]]:
    """Ink mask -> (horizontal rule y-centers, vertical rule x-centers).

    Measured against the grid's own extent so margins don't dilute coverage.
    Per-row and per-column ink counts give the extent and the candidate
    lines; only candidates pay the contiguous-run scan (most images have
    no grid and no candidate)."""
    row_ink = np.count_nonzero(mask, axis=1)
    col_ink = np.count_nonzero(mask, axis=0)
    ys = np.flatnonzero(row_ink)
    if len(ys) == 0:
        return [], []
    xs = np.flatnonzero(col_ink)
    x0, x1 = int(xs[0]), int(xs[-1]) + 1
    y0, y1 = int(ys[0]), int(ys[-1]) + 1
    h_rules = _rule_lines(mask[:, x0:x1].T, row_ink, max(x1 - x0, 1))
    v_rules = _rule_lines(mask[y0:y1, :], col_ink, max(y1 - y0, 1))
    return segment.merge_1d(h_rules, RULE_MERGE_GAP), segment.merge_1d(v_rules, RULE_MERGE_GAP)


def segment_cells(h_rules: list[int], v_rules: list[int]) -> list[dict]:
    """Consecutive-interval cross join -> cell dicts (reference cell model D4)."""
    cells = []
    for i in range(len(h_rules) - 1):
        top, bottom = h_rules[i], h_rules[i + 1]
        if bottom - top <= MIN_CELL_PX:
            continue
        for j in range(len(v_rules) - 1):
            left, right = v_rules[j], v_rules[j + 1]
            if right - left <= MIN_CELL_PX:
                continue
            cells.append(
                {"row": i, "col": j, "top": top, "bottom": bottom, "left": left, "right": right}
            )
    return cells


def extract_table(mask: np.ndarray) -> list[list[str]] | None:
    """Ink mask -> table rows (list of rows of cell strings), or None when
    no ruled grid is present (caller falls back to free-text OCR, mirroring
    enhanced_table_ocr_service.py:401-403)."""
    h_rules, v_rules = detect_rules(mask)
    if len(h_rules) < 2 or len(v_rules) < 2:
        return None
    cells = segment_cells(h_rules, v_rules)
    if not cells:
        return None
    nrows = max(c["row"] for c in cells) + 1
    ncols = max(c["col"] for c in cells) + 1
    table = [["" for _ in range(ncols)] for _ in range(nrows)]
    for c in cells:
        crop = mask[
            c["top"] + CELL_INSET : c["bottom"] - CELL_INSET,
            c["left"] + CELL_INSET : c["right"] - CELL_INSET,
        ]
        lines = []
        for t, b in segment.segment_lines(crop):
            txt = recognize.recognize_line(crop[t:b]).strip()
            if txt:
                lines.append(txt)
        table[c["row"]][c["col"]] = " ".join(lines)
    return table
