"""Span-sequence equality — the north-rule invariant (BASELINE.json:15).

The Spark pipeline must reproduce the plain-numpy golden path exactly:
per document, (kind, text, media_ref, order) of every span.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_text_recognition_spark.extraction.pipeline import run_extraction
from ocr_text_recognition_spark.io_pandas import pandas_to_spark


def _as_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_span_sequence_equality(spark, small_corpus):
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")

    got = {r["doc_id"]: _as_tuples(r["spans"]) for r in run_extraction(spark, docs, media).collect()}
    want = {r["doc_id"]: _as_tuples(r["spans"]) for _, r in golden_pd.iterrows()}

    assert set(got) == set(want)
    bad = [d for d in want if got[d] != want[d]]
    assert not bad, f"{len(bad)} docs mismatch, first: {bad[:1]}"


def test_many_span_document_out_of_order_matches_golden(spark, small_corpus):
    """A document of 1,200 spans, stored in shuffled offset order and mixing
    text, media and missing-ref spans, comes back with every span exactly
    once, sorted by offset, as the golden path has it."""
    import numpy as np
    import pandas as pd

    from ocr_text_recognition_spark import corpus

    docs_pd, media_pd, _ = small_corpus
    pool = [s for spans in docs_pd["spans"] for s in spans]
    pool += [
        {"kind": "media", "text": "", "media_ref": "no-such-image", "offset": 0},
        {"kind": "pdf", "text": "", "media_ref": "no-such-pdf", "offset": 0},
    ]
    assert {s["kind"] for s in pool} >= {"text", "media"}
    n = 1200
    rng = np.random.default_rng(7)
    offsets = rng.permutation(n)
    spans = [{**pool[i % len(pool)], "offset": int(off)} for i, off in enumerate(offsets)]
    docs_in = pd.concat(
        [docs_pd.head(2), pd.DataFrame([{"doc_id": "many", "spans": spans}])], ignore_index=True
    )
    docs = pandas_to_spark(spark, docs_in, "documents")
    media = pandas_to_spark(spark, media_pd, "media")

    got = {r["doc_id"]: _as_tuples(r["spans"]) for r in run_extraction(spark, docs, media).collect()}
    want = {r["doc_id"]: _as_tuples(r["spans"]) for _, r in corpus.make_golden(docs_in, media_pd).iterrows()}
    assert [offset for *_, offset in got["many"]] == list(range(n))
    assert got == want


def test_offsets_strictly_ordered(spark, small_corpus):
    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out = run_extraction(spark, docs, media)
    disorder = out.select(
        F.exists(
            F.zip_with(
                F.slice("spans", 1, F.size("spans") - 1),
                F.slice("spans", 2, F.size("spans") - 1),
                lambda a, b: a["offset"] >= b["offset"],
            ),
            lambda x: x,
        ).alias("bad")
    ).filter("bad")
    assert disorder.count() == 0


def test_missing_media_ref_yields_empty_text(spark):
    from ocr_text_recognition_spark.schemas import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

    docs = spark.createDataFrame(
        [("d1", [("media", "", "nope", 0), ("text", "<p>some real content here</p>", "", 1)])],
        DOCUMENTS_SCHEMA,
    )
    media = spark.createDataFrame([], MEDIA_SCHEMA)
    (row,) = run_extraction(spark, docs, media).collect()
    assert _as_tuples(row["spans"]) == [
        ("media", "", "nope", 0),
        ("text", "some real content here", "", 1),
    ]


def test_hostile_shapes_match_golden(spark, small_corpus):
    """Shapes the generator never emits still come out exactly as the
    golden path has them, next to an ordinary document: nothing is
    dropped and nothing takes another span's text."""
    import struct
    import zlib

    import pandas as pd

    from ocr_text_recognition_spark import corpus

    docs_pd, media_pd, _ = small_corpus
    zero_pixel = b"IMG1" + struct.pack("<II", 0, 5) + zlib.compress(b"")
    media_pd = pd.concat(
        [media_pd, pd.DataFrame([{"media_ref": "zero-pixel", "content": zero_pixel}])], ignore_index=True
    )
    hostile = {
        "zero-span document": [],
        "unknown span kind": [
            {"kind": "audio", "text": "<p>a transcript worth keeping here</p>", "media_ref": "clip", "offset": 0},
            {"kind": "text", "text": "<p>the body text of this document</p>", "media_ref": "", "offset": 1},
        ],
        "NULL text": [{"kind": "text", "text": None, "media_ref": "", "offset": 0}],
        "missing media ref": [
            {"kind": "media", "text": "", "media_ref": "no-such-image", "offset": 0},
            {"kind": "pdf", "text": "", "media_ref": "no-such-pdf", "offset": 1},
        ],
        "zero-pixel image": [{"kind": "media", "text": "", "media_ref": "zero-pixel", "offset": 0}],
    }
    media = pandas_to_spark(spark, media_pd, "media")
    for name, spans in hostile.items():
        docs_in = pd.concat(
            [docs_pd.head(1), pd.DataFrame([{"doc_id": "hostile", "spans": spans}])], ignore_index=True
        )
        docs = pandas_to_spark(spark, docs_in, "documents")
        got = {r["doc_id"]: _as_tuples(r["spans"]) for r in run_extraction(spark, docs, media).collect()}
        want = {r["doc_id"]: _as_tuples(r["spans"]) for _, r in corpus.make_golden(docs_in, media_pd).iterrows()}
        assert got == want, name


def test_preprocess_kwargs_flow_to_media_udf(spark, small_corpus):
    """run_extraction(preprocess_kwargs={'binarizer': 'adaptive'}) must
    apply the adaptive chain inside the Arrow UDF: per-ref output equals
    the plain-Python kernel called with the same kwargs."""
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.kernel import reference_kernel

    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out = run_extraction(
        spark, docs, media, preprocess_kwargs={"binarizer": "adaptive"}
    ).collect()

    media_bytes = dict(zip(media_pd["media_ref"], media_pd["content"]))
    want_cache = {}
    for r in out:
        for s in r["spans"]:
            if s["kind"] != "media":
                continue
            ref = s["media_ref"]
            if ref not in want_cache:
                want_cache[ref] = reference_kernel.recognize_media_bytes(
                    media_bytes.get(ref), binarizer="adaptive"
                )
            assert s["text"] == want_cache[ref], ref
    assert want_cache, "corpus contained no media spans"


def test_kernel_options_are_checked_on_the_driver(spark, small_corpus):
    """An unknown kernel option name or value raises ValueError when the
    ref UDF is built on the driver, not in a Python worker: the kernel
    itself would run its default stage for an unknown choice."""
    from ocr_text_recognition_spark.extraction.udfs import make_extract_ref_udf

    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    bad = [
        ({"binarizer": "adaptve"}, "binarizer='adaptve'"),
        ({"denoise": "gauss"}, "denoise='gauss'"),
        ({"deskew": "affine"}, "deskew='affine'"),
        ({"adaptive_block": 10}, "adaptive_block=10"),
        ({"rotate_portrait": "yes"}, "rotate_portrait='yes'"),
        ({"binarise": "adaptive"}, "unknown kernel option 'binarise'"),
    ]
    for kwargs, message in bad:
        with pytest.raises(ValueError, match=re.escape(message)):
            make_extract_ref_udf(**kwargs)
        with pytest.raises(ValueError, match=re.escape(message)):
            run_extraction(spark, docs, media, preprocess_kwargs=kwargs)
    make_extract_ref_udf(
        binarizer="adaptive", adaptive_block=15, rotate_portrait=True,
        denoise="morph", sharpen_first=True, deskew="rotation",
    )


def test_extraction_session_conf_scales_and_clamps():
    """Job-level scan tuning: >=4 splits per slot on small inputs, exact
    stock Spark values at production scale (the helper must be a no-op
    for a multi-TB table so it can never detune a real cluster)."""
    from ocr_text_recognition_spark.extraction.pipeline import (
        extraction_session_conf,
    )

    # small-corpus regime (the profiled stage-49 serialization case):
    # 24 MiB input on 8 slots -> ~32 splits of ~768 KiB, floored at 1 MiB
    small = extraction_session_conf(24 * 1024 * 1024, 8)
    split = int(small["spark.sql.files.maxPartitionBytes"])
    assert split == 1 << 20  # floor
    assert int(small["spark.sql.files.openCostInBytes"]) <= split // 4
    assert int(small["spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == 1 << 20

    # mid regime: 4 GiB on 8 slots -> 128 MiB splits (already at stock)
    mid = extraction_session_conf(4 << 30, 8)
    assert int(mid["spark.sql.files.maxPartitionBytes"]) == 128 << 20

    # production regime: 100 TB on 4000 slots -> every knob at stock
    prod = extraction_session_conf(100 * 10**12, 4000)
    assert int(prod["spark.sql.files.maxPartitionBytes"]) == 128 << 20
    assert int(prod["spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == 64 << 20

    # monotone sanity: more cores never means bigger splits
    a = int(extraction_session_conf(1 << 30, 4)["spark.sql.files.maxPartitionBytes"])
    b = int(extraction_session_conf(1 << 30, 16)["spark.sql.files.maxPartitionBytes"])
    assert b <= a
