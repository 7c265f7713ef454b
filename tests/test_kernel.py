"""Unit tests for the pure-numpy recognition kernel.

Mirrors the reference's test strategy (SURVEY.md §5.1): synthetic image
generation + per-component contracts, plus exact round-trip assertions the
reference couldn't make (its OCR engines are nondeterministic; ours is not).
"""

from __future__ import annotations

import struct
import tracemalloc
import zlib

import numpy as np
import pandas as pd
import pytest

from ocr_text_recognition_spark.corpus import make_golden
from ocr_text_recognition_spark.extraction.html import extract_main_text
from ocr_text_recognition_spark.kernel import (
    font,
    imageops,
    recognize,
    reference_kernel,
    render,
    segment,
    tableparse,
)
from ocr_text_recognition_spark.kernel.imgcodec import decode_image, encode_image


def full_chain(img: np.ndarray) -> np.ndarray:
    return reference_kernel.preprocess_image(img)


class TestFont:
    def test_glyph_bitmaps_unique(self):
        atlas = font.glyph_atlas()
        seen = {g.tobytes() for g in atlas}
        assert len(seen) == len(font.GLYPHS)

    def test_renderable_normalizes(self):
        assert font.renderable("héllo  wörld") == "H LLO W RLD"
        assert font.renderable("a,b.c") == "A,B.C"


class TestCodec:
    def test_roundtrip(self):
        img = render.render_text_image(["ABC 123"])
        assert np.array_equal(decode_image(encode_image(img)), img)

    def test_corrupt_raises(self):
        # ~200 MB of zeros behind a 10x10 header, compressed in chunks so the
        # test itself never holds the inflated bytes
        z = zlib.compressobj(9)
        stream = b"".join(z.compress(bytes(2**20)) for _ in range(200)) + z.flush()
        bomb = b"IMG1" + struct.pack("<II", 10, 10) + stream
        over_cap = b"IMG1" + struct.pack("<II", 100_000, 100_000) + zlib.compress(b"\0")
        bad_stream = b"IMG1" + struct.pack("<II", 2, 2) + b"not zlib"
        zero_pixel = [b"IMG1" + struct.pack("<II", h, w) + zlib.compress(b"") for h, w in ((0, 5), (5, 0), (0, 0))]
        for data in (b"not an image at all", bomb, over_cap, bad_stream, *zero_pixel):
            tracemalloc.start()
            try:
                with pytest.raises(ValueError):
                    decode_image(data)
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            assert peak < 16 * 2**20


class TestImageOps:
    def test_otsu_separates_bimodal(self):
        img = np.full((20, 20), 255, np.uint8)
        img[5:10, 5:10] = 10
        t = imageops.otsu_threshold(img)
        assert 10 <= t < 255  # dark class (<= t) must include the ink value
        assert imageops.otsu_binarize(img)[7, 7] == 1
        assert imageops.otsu_binarize(img)[0, 0] == 0

    def test_median3_kills_salt_noise(self):
        img = np.zeros((20, 20), np.uint8)
        img[10, 10] = 1  # isolated speck
        assert imageops.median3(img).sum() == 0

    def test_morphology_open_removes_close_keeps(self):
        m = np.zeros((20, 20), np.uint8)
        m[5:15, 5:15] = 1
        m[10, 17] = 1  # speck
        opened = imageops.morph_open(m, 3, 3)
        assert opened[10, 17] == 0 and opened[10, 10] == 1
        closed = imageops.morph_close(m, 3, 3)
        assert closed[10, 10] == 1

    @pytest.mark.parametrize("slope", render.SKEW_SLOPES_MILLI)
    def test_shear_estimate_exact(self, slope):
        img = render.render_text_image(["HELLO WORLD", "SECOND LINE HERE"])
        sheared = render.shear_image(img, slope)
        mask = imageops.otsu_binarize(sheared)
        assert imageops.estimate_shear_slope_milli(mask) == slope


class TestSegment:
    def test_connected_components_counts(self):
        m = np.zeros((10, 10), np.uint8)
        m[1:3, 1:3] = 1
        m[6:9, 6:9] = 1
        labels, n = segment.connected_components(m)
        assert n == 2
        assert labels[1, 1] != labels[7, 7]

    def test_diagonal_is_8_connected(self):
        m = np.zeros((4, 4), np.uint8)
        m[0, 0] = m[1, 1] = 1
        _, n = segment.connected_components(m)
        assert n == 1

    def test_merge_1d_sessionizes(self):
        # the reference's scanline merge (<10px) fixture
        assert segment.merge_1d(np.array([5, 7, 9, 40, 43, 90]), 10) == [7, 42, 90]


class TestRecognize:
    def test_freetext_roundtrip(self):
        lines = ["Hello World 8.5", "Physics: 7,5 (85%)", "A-B/C (X) 100%"]
        img = render.render_text_image(lines)
        got = recognize.recognize_text(full_chain(img))
        assert got == "\n".join(font.renderable(ln) for ln in lines)

    @pytest.mark.parametrize("slope", render.SKEW_SLOPES_MILLI)
    def test_sheared_roundtrip(self, slope):
        lines = ["Deskew Test 42", "Second Line 7,5"]
        img = render.shear_image(render.render_text_image(lines), slope)
        got = recognize.recognize_text(full_chain(img))
        assert got == "\n".join(font.renderable(ln) for ln in lines)

    def test_noise_image_empty(self):
        rng = np.random.default_rng(7)
        img = render.render_noise_image(rng)
        assert recognize.recognize_text(full_chain(img)) == ""

    def test_confidence_contract(self):
        # classify_glyph returns conf in [0,1]; exact hits get 1.0
        img = render.render_text_image(["A"])
        mask = full_chain(img)
        bands = segment.segment_lines(mask)
        (left, right, _), = segment.segment_glyph_boxes(mask[bands[0][0] : bands[0][1]])
        ch, conf = recognize.classify_glyph(mask[bands[0][0] : bands[0][1], left:right])
        assert ch == "A" and 0.5 <= conf <= 1.0


class TestTableParse:
    ROWS = [["Subject", "HK1", "HK2"], ["Math", "8.5", "9.0"], ["Physics", "7.5", "8,0"]]

    def test_table_roundtrip(self):
        img = render.render_table_image(self.ROWS)
        table = tableparse.extract_table(full_chain(img))
        assert table == [[font.renderable(c) for c in row] for row in self.ROWS]

    @pytest.mark.parametrize("slope", [-60, 30])
    def test_sheared_table_roundtrip(self, slope):
        img = render.shear_image(render.render_table_image(self.ROWS), slope)
        table = tableparse.extract_table(full_chain(img))
        assert table == [[font.renderable(c) for c in row] for row in self.ROWS]

    def test_no_grid_returns_none(self):
        img = render.render_text_image(["just some words"])
        assert tableparse.extract_table(full_chain(img)) is None


class TestReferenceKernel:
    def test_media_dispatch(self):
        timg = encode_image(render.render_table_image(self.TAB))
        out = reference_kernel.recognize_media_bytes(timg)
        assert " | " in out and "MATH" in out
        assert reference_kernel.recognize_media_bytes(b"corrupt") == ""
        assert reference_kernel.recognize_media_bytes(None) == ""

    TAB = [["Subject", "HK1"], ["Math", "8.5"]]

    def test_make_golden_preserves_order(self):
        """The golden path sorts by offset and dispatches per kind: text
        through the HTML extractor, media through the kernel, pdf through
        the layout parser, and a missing ref to ''."""
        image = encode_image(render.render_text_image(["inner text"]))
        page = b"%PDFISH 1.0 612 792\n300 103 11 world\n50 100 11 hello"
        media = pd.DataFrame(
            [{"media_ref": "m1", "content": image}, {"media_ref": "p1", "content": page}]
        )
        spans = [
            {"kind": "media", "text": "", "media_ref": "m1", "offset": 2},
            {"kind": "pdf", "text": "", "media_ref": "p1", "offset": 1},
            {"kind": "text", "text": "<p>main content paragraph here</p>", "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "nope", "offset": 3},
        ]
        (out,) = make_golden(pd.DataFrame([{"doc_id": "d0", "spans": spans}]), media)["spans"]
        assert [(s["offset"], s["kind"]) for s in out] == [
            (0, "text"),
            (1, "pdf"),
            (2, "media"),
            (3, "media"),
        ]
        assert [s["text"] for s in out] == [
            "main content paragraph here",
            "hello world",
            "INNER TEXT",
            "",
        ]


class TestHtmlExtract:
    def test_strips_boilerplate(self):
        html = (
            "<html><head><script>junk();</script></head><body>"
            "<nav><a href='/'>home</a></nav>"
            "<p>the real main content of this page</p>"
            "<div><a href='/x'>click here buy now best deal</a></div>"
            "<footer>copyright</footer></body></html>"
        )
        assert extract_main_text(html) == "the real main content of this page"

    def test_plain_text_passthrough(self):
        assert extract_main_text("  plain   text ") == "plain text"

    def test_entities_unescaped(self):
        assert extract_main_text("<p>fish &amp; chips cost &lt;5</p>") == "fish & chips cost <5"

    def test_none_and_empty(self):
        assert extract_main_text(None) == ""
        assert extract_main_text("") == ""


class TestKernelRobustness:
    """Regression pins for the short-glyph / residual-shear fixes."""

    def test_single_short_glyph_lines(self):
        # lines made only of short glyphs have no full-height band; they
        # classify via the position-free bbox path (all 46 bbox bitmaps
        # are pairwise distinct)
        from ocr_text_recognition_spark.kernel import render
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        for ch in [".", "+", "=", ":", "-"]:
            img = render.render_text_image([ch])
            got = reference_kernel.recognize_media_bytes(encode_image(img))
            assert got == ch, f"{ch!r} -> {got!r}"

    def test_every_glyph_alone(self):
        # every glyph rendered as a whole document round-trips — 46/46.
        # ',' used to tie with '.' (pixel agreement is identical after blur
        # drift); the bbox-dimension tie-break in _classify_bbox resolves
        # it (the blurred ',' is still 9px tall vs the 6px '.')
        from ocr_text_recognition_spark.kernel import render
        from ocr_text_recognition_spark.kernel.font import GLYPHS
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        bad = []
        for ch in GLYPHS:
            img = render.render_text_image([ch])
            got = reference_kernel.recognize_media_bytes(encode_image(img))
            if got != ch:
                bad.append((ch, got))
        assert bad == [], bad

    def test_multipart_glyph_stays_one_line(self):
        # '=' / ':' parts are <=3 blank rows apart and must not split into
        # two text lines (segment_lines min_gap=4)
        from ocr_text_recognition_spark.kernel import render, segment
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        img = render.render_text_image(["="])
        mask = reference_kernel.preprocess_image(img)
        assert len(segment.segment_lines(mask)) == 1

    def test_sheared_single_glyph_roundtrip(self):
        # residual shear below the estimator's detection floor must not
        # change the decoded char (pre-sheared template variants)
        from ocr_text_recognition_spark.kernel import render
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        for slope in (-60, -30, 30, 60):
            img = render.shear_image(render.render_text_image(["1"]), slope)
            got = reference_kernel.recognize_media_bytes(encode_image(img))
            assert got == "1", f"slope {slope}: {got!r}"

    def test_connected_components_matches_bfs(self):
        # vectorized run-labeling + root hooking == classic BFS
        # flood fill (8-connectivity), up to label bijection
        from collections import deque

        rng = np.random.default_rng(5)
        for _ in range(25):
            m = (rng.random((rng.integers(1, 30), rng.integers(1, 30))) < 0.4).astype(np.uint8)
            l1, n1 = segment.connected_components(m)
            h, w = m.shape
            l2 = np.zeros((h, w), np.int32)
            n2 = 0
            for y in range(h):
                for x in range(w):
                    if m[y, x] and l2[y, x] == 0:
                        n2 += 1
                        q = deque([(y, x)])
                        l2[y, x] = n2
                        while q:
                            cy, cx = q.popleft()
                            for dy in (-1, 0, 1):
                                for dx in (-1, 0, 1):
                                    ny, nx = cy + dy, cx + dx
                                    if 0 <= ny < h and 0 <= nx < w and m[ny, nx] and l2[ny, nx] == 0:
                                        l2[ny, nx] = n2
                                        q.append((ny, nx))
            assert n1 == n2
            pairs = set(zip(l1.ravel().tolist(), l2.ravel().tolist()))
            assert len({a for a, _ in pairs}) == len(pairs) == len({b for _, b in pairs})

    def test_connected_components_raster_label_order(self):
        m = np.zeros((5, 5), np.uint8)
        m[4, 4] = 1
        m[0, 0] = 1
        labels, n = segment.connected_components(m)
        assert n == 2 and labels[0, 0] == 1 and labels[4, 4] == 2


class TestAdviceRegressions:
    def test_max_run_per_col_zero_width(self):
        """Zero-width block returns an empty array (the rolling-max loop's
        old contract) instead of raising IndexError on flat[0]."""
        from ocr_text_recognition_spark.kernel.tableparse import _max_run_per_col

        out = _max_run_per_col(np.zeros((7, 0), dtype=np.uint8))
        assert out.shape == (0,) and out.dtype == np.int32


class TestRotationDeskew:
    """True small-angle rotation deskew (reference minAreaRect+warpAffine,
    table_ocr_service.py:73-110). Model boundary, pinned: the estimator is
    accurate to ~1.5 fine steps (0.15 deg) across the full ±5 deg window;
    the rotate->derotate round trip recognizes near-exactly (>= 0.9
    similarity, usually glyph-exact) through ±3 deg — residual misses are
    DOUBLE nearest-neighbor resampling noise on 9px glyphs (the synthetic
    round trip rotates an already-binarized render, then derotates), not
    estimator error. A real scanner's smooth anti-aliased rotation is
    strictly easier than this worst case."""

    def _render(self):
        from ocr_text_recognition_spark.kernel import render

        return render.render_text_image(
            ["ROTATION TEST LINE ONE", "AND A SECOND LONGER LINE 123"]
        )

    def test_estimate_accuracy_across_window(self):
        from ocr_text_recognition_spark.kernel import imageops, render

        img = self._render()
        for applied in (-4500, -3000, -1000, 0, 800, 2000, 4500):
            rot = imageops.rotate_mask(img, applied, fill=render.BG)
            est = imageops.estimate_rotation_millideg(imageops.otsu_binarize(rot))
            assert abs(est - applied) <= 150, (applied, est)

    def test_dead_band_returns_mask_unchanged(self):
        from ocr_text_recognition_spark.kernel import imageops

        mask = imageops.otsu_binarize(self._render())
        out = imageops.derotate(mask)
        assert np.array_equal(out, mask)  # straight text: no correction

    def test_round_trip_recognition_within_boundary(self):
        from ocr_text_recognition_spark.kernel import imageops, reference_kernel, render
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        import difflib

        img = self._render()
        want = "ROTATION TEST LINE ONE\nAND A SECOND LONGER LINE 123"
        for applied in (1500, 2000):  # glyph-exact cases
            rot = imageops.rotate_mask(img, applied, fill=render.BG)
            got = reference_kernel.recognize_media_bytes(
                encode_image(rot), deskew="rotation"
            )
            assert got == want, (applied, got)
        # through ±3 deg: near-exact (>= 0.9 similarity; the occasional
        # single-glyph miss — e.g. I->1 — is double-NN resampling noise,
        # not estimator error: the estimate at -2000 is exactly -2000)
        for applied in (-2000, 3000, -3000):
            rot = imageops.rotate_mask(img, applied, fill=render.BG)
            got = reference_kernel.recognize_media_bytes(
                encode_image(rot), deskew="rotation"
            )
            sim = difflib.SequenceMatcher(None, got, want).ratio()
            assert sim >= 0.9, (applied, sim, got)

    def test_shear_model_boundary_documented(self):
        """The shear-only model CANNOT recover a true rotation (y displaces
        too) — the gap the rotation path exists for. 3 deg rotated text
        through the DEFAULT shear chain comes out wrong; through the
        rotation chain it comes out exact (asserted above)."""
        from ocr_text_recognition_spark.kernel import imageops, reference_kernel, render
        from ocr_text_recognition_spark.kernel.imgcodec import encode_image

        rot = imageops.rotate_mask(self._render(), 3000, fill=render.BG)
        got = reference_kernel.recognize_media_bytes(encode_image(rot))
        assert got != "ROTATION TEST LINE ONE\nAND A SECOND LONGER LINE 123"


def test_classify_glyph_large_dimensions_no_crash():
    """Memo keys must handle dims >= 256 (bytes(shape) would raise): a
    300px-wide merged run and a 300px-tall band both classify (possibly
    as low-confidence junk) instead of crashing the recognition UDF."""
    from ocr_text_recognition_spark.kernel import recognize

    wide = np.zeros((21, 300), np.uint8)
    wide[10, :] = 1
    ch, conf = recognize.classify_glyph(wide)
    assert isinstance(ch, str) and 0.0 <= conf <= 1.0
    tall = np.zeros((300, 12), np.uint8)
    tall[:280, 5] = 1
    ch2, conf2 = recognize.classify_glyph(tall)
    assert isinstance(ch2, str) and 0.0 <= conf2 <= 1.0
    # cached second call returns the identical result
    assert recognize.classify_glyph(wide) == (ch, conf)


# sha256 of "\x00".join(recognize_media_bytes(p)) over the distinct media
# refs of make_corpus(2000, seed=1), sorted by media_ref (1,563 images: the
# extract_mixed benchmark's images). Derived from the per-pixel forms of the
# speck filter, rule detection, Otsu means and shear search, which the
# kernel replaced with exact shortcuts; any drift in any stage moves it.
BENCHMARK_IMAGES_DIGEST = "b60817096d09bc2101ab4a67c7fbaad768f3fa3c348240b6faf3032226b54ca7"


def test_benchmark_images_digest():
    import hashlib

    from ocr_text_recognition_spark import corpus

    docs, media = corpus.make_corpus(2000, seed=1)
    used = sorted({s["media_ref"] for spans in docs["spans"] for s in spans if s["kind"] == "media"})
    payloads = dict(zip(media["media_ref"], media["content"]))
    assert len(used) == 1563
    texts = [reference_kernel.recognize_media_bytes(payloads[ref]) for ref in used]
    assert hashlib.sha256("\x00".join(texts).encode()).hexdigest() == BENCHMARK_IMAGES_DIGEST
