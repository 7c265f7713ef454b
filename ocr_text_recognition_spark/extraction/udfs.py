"""Arrow-batched pandas UDFs — the engine's entire Python surface.

Per the north rule (BASELINE.json:15) there is NO per-row Python at the
Spark level: both UDFs are scalar-iterator pandas UDFs, so data crosses the
JVM/Python boundary in Arrow record batches and the expensive engine state
(the glyph atlas / template caches — stand-ins for the reference's EasyOCR
weights loaded once per process, /root/reference/src/model/ocr_model.py:26-31)
is initialized lazily once per executor and reused across batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_ENGINE = None


def _engine():
    """Per-executor lazy singleton. Importing the kernel touches the cached
    glyph atlas/template tables exactly once per Python worker process."""
    global _ENGINE
    if _ENGINE is None:
        from ocr_text_recognition_spark.extraction import html
        from ocr_text_recognition_spark.kernel import reference_kernel

        from ocr_text_recognition_spark.extraction import pdflayout

        # Warm the template caches so the first batch isn't an outlier.
        from ocr_text_recognition_spark.kernel.recognize import _exact_lookup, _template_tensor

        _template_tensor()
        _exact_lookup()
        _ENGINE = (
            html.extract_main_text,
            reference_kernel.recognize_media_bytes,
            pdflayout.extract_pdf_text,
        )
    return _ENGINE


@pandas_udf(StringType())
def extract_main_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """HTML-ish text span -> main content (boilerplate strip + text density)."""
    extract, _, _ = _engine()
    for s in batches:
        yield s.map(lambda x: extract(x) if x is not None else "")


def make_extract_ref_udf(**preprocess_kwargs):
    """Build the (kind, payload) -> text dispatch UDF with optional kernel
    preprocessing overrides (binarizer='adaptive', adaptive_block=...,
    rotate_portrait=True — see kernel.reference_kernel.preprocess_image).
    The kwargs are checked here, on the driver (ValueError on an unknown
    name or value), then captured in the closure and shipped to executors
    via cloudpickle, so a photographed/scanned deployment selects the
    adaptive threshold without touching the pipeline code."""
    from ocr_text_recognition_spark.kernel.reference_kernel import check_preprocess_options

    check_preprocess_options(preprocess_kwargs)

    @pandas_udf(StringType())
    def _extract_ref_udf(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        _, recognize, parse_pdf = _engine()
        for kinds, payloads in batches:
            out = []
            for kind, payload in zip(kinds, payloads):
                if payload is None:
                    out.append("")
                elif kind == "pdf":
                    out.append(parse_pdf(payload))
                else:
                    out.append(recognize(payload, **preprocess_kwargs))
            yield pd.Series(out, dtype="object")

    return _extract_ref_udf


# Default instance (Otsu chain) for callers outside the pipeline: the
# benchmark's warm-up and its UDF-boundary layer. The pipeline builds its
# own through make_extract_ref_udf, with the job's kernel options.
extract_ref_udf = make_extract_ref_udf()
