"""Property-based kernel invariants (hypothesis) — the reference has no
property tests (SURVEY.md §5.1); these pin the round-trip guarantees the
span-equality contract rests on.

derandomize=True: CI runs a fixed, reproducible example set (the shear
round-trip has a known ~0.4%% adversarial tail on dense punctuation soup
— mined by larger offline fuzz runs, tracked in test_kernel regression
pins as they are fixed); a verification run must not flake on a freshly
drawn tail case."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_text_recognition_spark.extraction.html import extract_main_text
from ocr_text_recognition_spark.kernel import font, imageops, reference_kernel, render, segment, tableparse
from ocr_text_recognition_spark.kernel.imgcodec import decode_image, encode_image

# Words over the renderable charset (no spaces inside a word).
_word = st.text(
    alphabet=st.sampled_from(font.GLYPHS),
    min_size=1,
    max_size=8,
)
_line = st.lists(_word, min_size=1, max_size=4).map(" ".join)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(lines=st.lists(_line, min_size=1, max_size=3))
def test_render_recognize_roundtrip(lines):
    img = render.render_text_image(lines)
    got = reference_kernel.recognize_media_bytes(encode_image(img))
    want = "\n".join(font.renderable(ln) for ln in lines)
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    lines=st.lists(_line, min_size=1, max_size=2),
    slope=st.sampled_from(render.SKEW_SLOPES_MILLI),
)
def test_shear_invariant_roundtrip(lines, slope):
    img = render.shear_image(render.render_text_image(lines), slope)
    got = reference_kernel.recognize_media_bytes(encode_image(img))
    assert got == "\n".join(font.renderable(ln) for ln in lines)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31),
)
def test_codec_roundtrip_any_image(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_image(img)), img)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(text=st.text(max_size=300))
def test_extract_main_text_total(text):
    # never raises, never returns None, idempotent on its own output
    out = extract_main_text(text)
    assert isinstance(out, str)
    if "<" not in out:
        assert extract_main_text(out) == out


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    coords=st.lists(st.integers(0, 10000), min_size=1, max_size=60),
    gap=st.integers(1, 50),
)
def test_merge_1d_matches_bruteforce(coords, gap):
    from ocr_text_recognition_spark.kernel.segment import merge_1d

    got = merge_1d(np.array(coords), gap)
    # brute-force reference: walk sorted coords, split on gap, mean per run
    xs = sorted(coords)
    runs, cur = [], [xs[0]]
    for a, b in zip(xs, xs[1:]):
        if b - a > gap:
            runs.append(cur)
            cur = []
        cur.append(b)
    runs.append(cur)
    want = [int(round(sum(r) / len(r))) for r in runs]
    assert got == want


# ------------------------------------------------ reference twins of the kernel
# The kernel's hot stages (speck removal, rule detection, Otsu's class means,
# the shear search) skip work that cannot change their output. Each twin
# below is the straightforward form they replaced; the new function must
# equal it exactly, dtype included. All arithmetic is integer (or correctly
# rounded integer quotients), so no tolerance.


def _twin_connected_components(mask):
    """Run labeling + min-label propagation over the run-adjacency edges."""
    h, w = mask.shape
    m = mask.astype(bool, copy=False)
    if not m.any():
        return np.zeros((h, w), dtype=np.int32), 0
    padded = np.zeros((h, w + 1), dtype=bool)
    padded[:, :w] = m
    flat = padded.ravel()
    is_start = flat & ~np.concatenate(([False], flat[:-1]))
    run_id = np.cumsum(is_start, dtype=np.int32)
    run_id[~flat] = 0
    run_img = run_id.reshape(h, w + 1)[:, :w]
    n_runs = int(is_start.sum())
    w1 = w + 1
    pos_start = np.flatnonzero(is_start)
    pos_end = np.flatnonzero(flat & ~np.concatenate((flat[1:], [False])))
    rows = pos_start // w1
    starts = pos_start % w1
    ends = pos_end % w1
    gstart = pos_start.astype(np.int64)
    gend = (rows * np.int64(w1) + ends).astype(np.int64)
    lab = np.arange(n_runs + 1, dtype=np.int64)
    bsel = np.flatnonzero(rows >= 1)
    if len(bsel):
        up = (rows[bsel] - 1) * np.int64(w1)
        lo = np.searchsorted(gend, up + np.maximum(starts[bsel] - 1, 0), "left")
        hi = np.searchsorted(gstart, up + np.minimum(ends[bsel] + 1, w), "right") - 1
        counts = np.maximum(hi - lo + 1, 0)
        if counts.sum():
            eb = np.repeat(bsel + 1, counts)
            cs = np.cumsum(counts)
            ea = np.arange(int(counts.sum())) - np.repeat(cs - counts, counts) + np.repeat(lo, counts) + 1
            while True:
                before = lab.copy()
                edge_min = np.minimum(lab[ea], lab[eb])
                np.minimum.at(lab, ea, edge_min)
                np.minimum.at(lab, eb, edge_min)
                while not np.array_equal(lab[lab], lab):
                    lab = lab[lab]
                if np.array_equal(lab, before):
                    break
    uniq = np.unique(lab[1:])
    remap = np.empty(n_runs + 1, dtype=np.int32)
    remap[0] = 0
    remap[1:] = np.searchsorted(uniq, lab[1:]) + 1
    return remap[run_img], len(uniq)


def _twin_remove_specks(mask, min_area):
    """Full label image, then a per-label area filter."""
    if not mask.any():
        return mask
    labels, n = _twin_connected_components(mask)
    keep = np.bincount(labels.ravel(), minlength=n + 1) >= min_area
    keep[0] = False
    return keep[labels].astype(np.uint8)


def _twin_detect_rules(mask):
    """Two full-mask max-run passes, then the coverage test."""
    ys, xs = np.nonzero(mask)
    if len(ys) == 0:
        return [], []
    x0, x1 = int(xs.min()), int(xs.max()) + 1
    y0, y1 = int(ys.min()), int(ys.max()) + 1
    row_run = tableparse._max_run_per_col(mask[:, x0:x1].T) / max(x1 - x0, 1)
    col_run = tableparse._max_run_per_col(mask[y0:y1, :]) / max(y1 - y0, 1)
    cov, gap = tableparse.RULE_COVERAGE, tableparse.RULE_MERGE_GAP
    return (
        segment.merge_1d(np.nonzero(row_run >= cov)[0], gap),
        segment.merge_1d(np.nonzero(col_run >= cov)[0], gap),
    )


def _twin_otsu_binarize(img):
    """Class means by boolean indexing over the pixels."""
    t = imageops.otsu_threshold(img)
    dark = img[img <= t]
    light = img[img > t]
    if dark.size == 0 or light.size == 0:
        return np.zeros_like(img, dtype=np.uint8)
    if float(light.mean()) - float(dark.mean()) < imageops.MIN_CLASS_SEPARATION:
        return np.zeros_like(img, dtype=np.uint8)
    return (img <= t).astype(np.uint8)


def _twin_shear_slope(mask):
    """Re-bin every ink pixel once per probed slope."""
    ys, xs = np.nonzero(mask)
    if len(ys) == 0:
        return 0
    rows = np.arange(mask.shape[0], dtype=np.float64)

    def _score(sm):
        xp = xs - np.round(rows * (sm / 1000.0)).astype(np.int64)[ys]
        counts = np.bincount(xp - xp.min())
        return float(np.dot(counts, counts))

    top, step = imageops.DESKEW_MAX_SLOPE, imageops.DESKEW_STEP
    scores = {sm: _score(sm) for sm in range(-top, top + 1, imageops.DESKEW_COARSE_STEP)}
    best_coarse = max(scores.values())
    span = imageops.DESKEW_REFINE_SPAN
    for center in [sm for sm, sc in scores.items() if sc >= best_coarse * 0.995]:
        for sm in range(center - span, center + span + 1, step):
            if sm not in scores and -top <= sm <= top:
                scores[sm] = _score(sm)
    best = max(scores.values())
    return min((sm for sm, sc in scores.items() if sc >= best * 0.995), key=lambda s: (abs(s), s))


def _random_mask(h, w, density, seed):
    return (np.random.default_rng(seed).random((h, w)) < density).astype(np.uint8)


def _grid_mask(n_rows, n_cols, cell, run_delta, broken, seed):
    """A ruled grid plus one extra horizontal and one extra vertical line
    whose longest run is the 80% coverage bar + run_delta (broken: the
    same ink split into two runs), with random ink in the cells."""
    rng = np.random.default_rng(seed)
    hgt, wid = n_rows * cell + 1, n_cols * cell + 1
    m = (rng.random((hgt, wid)) < 0.05).astype(np.uint8)
    m[::cell, :] = 1
    m[:, ::cell] = 1
    y, x = cell // 2, cell // 2
    m[y, :] = 0
    m[:, x] = 0
    hrun = int(round(0.8 * wid)) + run_delta
    vrun = int(round(0.8 * hgt)) + run_delta
    m[y, :hrun] = 1
    m[:vrun, x] = 1
    if broken:
        m[y, hrun // 2] = 0
        m[vrun // 2, x] = 0
    return m


def _speck_mask(h, w, n_specks, seed):
    """Strokes plus specks of 1..MIN_COMPONENT_AREA+5 pixels."""
    rng = np.random.default_rng(seed)
    m = np.zeros((h, w), dtype=np.uint8)
    for _ in range(3):
        y, x = rng.integers(0, h), rng.integers(0, w)
        m[y : y + rng.integers(1, 12), x : x + rng.integers(1, 12)] = 1
    for _ in range(n_specks):
        y, x = rng.integers(0, h), rng.integers(0, w)
        m[y : y + rng.integers(1, 6), x : x + rng.integers(1, 6)] = 1
    return m


_seed = st.integers(0, 2**31)
_masks = st.one_of(
    st.builds(_random_mask, st.integers(1, 40), st.integers(1, 40), st.floats(0, 1), _seed),
    st.builds(_random_mask, st.just(1), st.integers(1, 80), st.floats(0, 1), _seed),
    st.builds(_random_mask, st.integers(1, 80), st.just(1), st.floats(0, 1), _seed),
    st.builds(_random_mask, st.integers(1, 30), st.integers(1, 30), st.sampled_from([0.0, 1.0]), _seed),
    st.builds(
        _grid_mask, st.integers(1, 4), st.integers(1, 4), st.sampled_from([12, 20, 25]),
        st.integers(-1, 1), st.booleans(), _seed,
    ),
    st.builds(_speck_mask, st.integers(5, 60), st.integers(5, 60), st.integers(0, 12), _seed),
)


def _assert_same_array(got, want):
    assert got.dtype == want.dtype and got.shape == want.shape
    assert np.array_equal(got, want)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(mask=_masks, min_area=st.sampled_from([1, 5, 20, 40]))
def test_speck_removal_matches_twin(mask, min_area):
    labels, n = segment.connected_components(mask)
    want_labels, want_n = _twin_connected_components(mask)
    assert n == want_n
    _assert_same_array(labels, want_labels)
    _assert_same_array(segment.remove_specks(mask, min_area), _twin_remove_specks(mask, min_area))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(mask=_masks)
def test_detect_rules_matches_twin(mask):
    assert tableparse.detect_rules(mask) == _twin_detect_rules(mask)


def test_rule_at_exact_coverage_is_found():
    """A run of exactly RULE_COVERAGE x extent is a rule; one pixel short,
    or the same ink broken in two, is not."""
    for delta, broken, found in ((0, False, True), (-1, False, False), (0, True, False)):
        mask = _grid_mask(2, 2, 20, delta, broken, seed=0)
        h_rules, v_rules = tableparse.detect_rules(mask)
        assert (10 in h_rules, 10 in v_rules) == (found, found)
        assert (h_rules, v_rules) == _twin_detect_rules(mask)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    levels=st.tuples(st.integers(0, 255), st.integers(0, 255)),
    bimodal=st.booleans(),
    seed=_seed,
)
def test_otsu_binarize_matches_twin(h, w, levels, bimodal, seed):
    rng = np.random.default_rng(seed)
    lo, hi = min(levels), max(levels)
    if bimodal:
        img = np.where(rng.random((h, w)) < 0.3, lo, hi).astype(np.uint8)
        img = imageops.gaussian_blur(img)
    else:
        img = rng.integers(lo, hi + 1, (h, w)).astype(np.uint8)
    _assert_same_array(imageops.otsu_binarize(img), _twin_otsu_binarize(img))


def test_otsu_separation_gate_matches_twin():
    """Class means whose gap sits within a fraction of MIN_CLASS_SEPARATION:
    the gate must see the same correctly rounded means as the twin."""
    for gap in range(imageops.MIN_CLASS_SEPARATION - 2, imageops.MIN_CLASS_SEPARATION + 3):
        for n_odd in range(4):
            img = np.full((6, 8), 40 + gap, dtype=np.uint8)
            img[:3] = 40
            img[0, :n_odd] = 41  # moves the dark mean by a fraction of a level
            got = imageops.otsu_binarize(img)
            _assert_same_array(got, _twin_otsu_binarize(img))


@settings(max_examples=200, deadline=None, derandomize=True)
@given(mask=_masks)
def test_shear_slope_matches_twin_on_masks(mask):
    assert imageops.estimate_shear_slope_milli(mask) == _twin_shear_slope(mask)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    lines=st.lists(_line, min_size=1, max_size=3),
    slope=st.integers(-imageops.DESKEW_MAX_SLOPE, imageops.DESKEW_MAX_SLOPE),
)
def test_shear_slope_matches_twin_on_text(lines, slope):
    img = render.shear_image(render.render_text_image(lines), slope)
    mask = imageops.median3(imageops.otsu_binarize(imageops.gaussian_blur(img)))
    assert imageops.estimate_shear_slope_milli(mask) == _twin_shear_slope(mask)
