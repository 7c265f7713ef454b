"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1-3).

Generates the authoritative input shape (BASELINE.json:15):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
    media(media_ref: string, content: binary)

plus golden extracted spans frozen through the plain-numpy kernel
(kernel/reference_kernel.py) — the pytest oracle for span-sequence equality.

Seeded; no external data. Skew knob: a small fraction of documents get many
extra media spans (the skew knob, BASELINE.json:6); media refs
draw from a shared pool so the pipeline's recognize-each-distinct-ref-once
optimization is observable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ocr_text_recognition_spark.extraction.html import extract_main_text
from ocr_text_recognition_spark.kernel import reference_kernel, render
from ocr_text_recognition_spark.kernel.imgcodec import encode_image

WORDS = (
    "spark scan filter join merge sort batch stream window value table row "
    "column key hash group query plan shard vector index range census orbit "
    "delta flux probe relay cache lemma tensor glyph raster corpus span"
).split()

SUBJECTS = ["Math", "Physics", "Chemistry", "Biology", "History", "Literature"]

BOILER_NAV = '<nav><a href="/a">home</a> <a href="/b">about</a> <a href="/c">contact us now</a></nav>'
BOILER_SCRIPT = "<script>var t = track('page', 1234); t.send();</script>"
BOILER_FOOTER = "<footer>copyright 2026 example corp all rights reserved</footer>"


def _sentence(rng: np.random.Generator, n: int) -> str:
    return " ".join(rng.choice(WORDS, n).tolist())


def _html_doc(rng: np.random.Generator) -> str:
    paras = [
        f"<p>{_sentence(rng, int(rng.integers(8, 20)))}</p>"
        for _ in range(int(rng.integers(1, 4)))
    ]
    ad = '<div><a href="/buy">buy now great deal best price click here today</a></div>'
    return f"<html><head>{BOILER_SCRIPT}</head><body>{BOILER_NAV}{''.join(paras)}{ad}{BOILER_FOOTER}</body></html>"


def _media_image(rng: np.random.Generator) -> bytes:
    """One synthetic media payload: text lines / grade table / sheared / noise."""
    variant = int(rng.integers(0, 10))
    if variant < 4:  # (a) plain text lines
        lines = [_sentence(rng, int(rng.integers(2, 6))) for _ in range(int(rng.integers(1, 4)))]
        img = render.render_text_image(lines)
    elif variant < 7:  # (b) ruled grade table
        rows = [["Subject", "HK1", "HK2"]]
        for s in rng.choice(SUBJECTS, int(rng.integers(2, 5)), replace=False):
            rows.append([str(s), f"{rng.integers(4, 10)}.{rng.integers(0, 10)}", f"{rng.integers(4, 10)},{rng.integers(0, 10)}"])
        img = render.render_table_image(rows)
    elif variant < 9:  # (c) sheared copy of a text image
        lines = [_sentence(rng, int(rng.integers(2, 5))) for _ in range(int(rng.integers(1, 3)))]
        slope = int(rng.choice(render.SKEW_SLOPES_MILLI))
        img = render.shear_image(render.render_text_image(lines), slope)
    else:  # (d) noise
        img = render.render_noise_image(rng)
    return encode_image(img)


def _pdfish_page(rng: np.random.Generator) -> bytes:
    """One synthetic PDF-ish page: positioned text runs incl. page furniture
    (running header + page-number footer, stripped by the margin rule) and a
    small-font footnote (stripped by the fine-print rule). See
    extraction/pdflayout.py for the format."""
    w, h = 612.0, 792.0
    lines = [f"%PDFISH 1.0 {w:g} {h:g}"]
    lines.append(f"50 {h * 0.03:.1f} 9 running header {int(rng.integers(1, 99))}")
    lines.append(f"300 {h * 0.97:.1f} 9 page {int(rng.integers(1, 200))}")
    y = 100.0
    for _ in range(int(rng.integers(2, 5))):
        n_runs = int(rng.integers(1, 4))
        x = 50.0
        for _ in range(n_runs):
            lines.append(f"{x:.1f} {y:.1f} 11 {_sentence(rng, int(rng.integers(2, 5)))}")
            x += float(rng.integers(120, 200))
        y += float(rng.integers(14, 40))
    lines.append(f"50 {y + 20:.1f} 4 footnote {_sentence(rng, 3)}")
    return "\n".join(lines).encode("utf-8")


def make_corpus(
    n_docs: int,
    seed: int = 42,
    skew_fraction: float = 0.02,
    skew_multiplier: int = 20,
    media_pool_per_doc: float = 0.8,
    pdf_fraction: float = 0.0,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Build (documents, media) pandas frames.

    A ``skew_fraction`` of docs are "media-heavy" with ~``skew_multiplier``x
    the normal media span count. Media refs are drawn from a pool of
    ``media_pool_per_doc * n_docs`` distinct images, so popular refs repeat.
    ``pdf_fraction`` > 0 adds that fraction of documents a kind='pdf' span
    referencing a PDF-ish page payload (extraction/pdflayout.py) stored in
    the same media table; 0 keeps the corpus identical to earlier seeds.
    """
    rng = np.random.default_rng(seed)
    pool_size = max(8, int(n_docs * media_pool_per_doc))
    media_refs = [f"m{i:07d}" for i in range(pool_size)]
    media_rows = [
        {"media_ref": ref, "content": _media_image(rng)} for ref in media_refs
    ]

    doc_rows = []
    pdf_refs: list[str] = []
    for d in range(n_docs):
        doc_id = f"doc{d:08d}"
        heavy = rng.random() < skew_fraction
        n_text = int(rng.integers(1, 4))
        n_media = int(rng.integers(1, 4)) * (skew_multiplier if heavy else 1)
        kinds = ["text"] * n_text + ["media"] * n_media
        rng.shuffle(kinds)
        if pdf_fraction > 0 and rng.random() < pdf_fraction:
            kinds.append("pdf")  # appended post-shuffle: offset set below either way
        spans = []
        for offset, kind in enumerate(kinds):
            if kind == "text":
                spans.append(
                    {"kind": "text", "text": _html_doc(rng), "media_ref": "", "offset": offset}
                )
            elif kind == "pdf":
                ref = f"p{len(pdf_refs):07d}"
                pdf_refs.append(ref)
                media_rows.append({"media_ref": ref, "content": _pdfish_page(rng)})
                spans.append({"kind": "pdf", "text": "", "media_ref": ref, "offset": offset})
            else:
                ref = media_refs[int(rng.integers(0, pool_size))]
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
        doc_rows.append({"doc_id": doc_id, "spans": spans})

    return pd.DataFrame(doc_rows), pd.DataFrame(media_rows)


def make_golden(docs: pd.DataFrame, media: pd.DataFrame) -> pd.DataFrame:
    """Run the plain-numpy kernel over the corpus -> golden extracted spans.

    Each distinct media_ref is recognized exactly once (the same
    distinct-ref memoization the Spark pipeline does relationally)."""
    from ocr_text_recognition_spark.extraction import pdflayout

    media_bytes = dict(zip(media["media_ref"], media["content"]))
    cache: dict[tuple[str, str], str] = {}

    def _ref_text(kind: str, ref: str) -> str:
        key = (kind, ref)
        if key not in cache:
            payload = media_bytes.get(ref)
            if payload is None:
                cache[key] = ""
            elif kind == "media":
                cache[key] = reference_kernel.recognize_media_bytes(payload)
            else:  # pdf
                cache[key] = pdflayout.extract_pdf_text(payload)
        return cache[key]

    out = []
    for _, row in docs.iterrows():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        out.append(
            {
                "doc_id": row["doc_id"],
                "spans": [
                    {
                        "kind": s["kind"],
                        "text": _ref_text(s["kind"], s["media_ref"])
                        if s["kind"] in ("media", "pdf")
                        else extract_main_text(s["text"]),
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                    for s in spans
                ],
            }
        )
    return pd.DataFrame(out)
