"""Per-partition lineage + extraction metrics (north star, BASELINE.json:6):
chars decoded, span counts, CER vs reference — keyed by (run_id,
partition_id) so each physical partition's contribution is auditable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_text_recognition_spark.schemas import METRICS_SCHEMA


def partition_metrics(extracted_docs: DataFrame, run_id: str) -> DataFrame:
    """(doc_id, spans) -> one metrics row per physical partition.

    mapInPandas keeps this a single pass piggybacked on the data; the
    TaskContext partition id is the lineage key.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        from pyspark import TaskContext

        t0 = time.time()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        docs = spans = chars = media = 0
        for pdf in batches:
            docs += len(pdf)
            for span_list in pdf["spans"]:
                spans += len(span_list)
                for s in span_list:
                    chars += len(s["text"] or "")
                    media += 1 if s["kind"] == "media" else 0
        elapsed = max(time.time() - t0, 1e-9)
        yield pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "partition_id": pid,
                    "docs": docs,
                    "spans": spans,
                    "chars_decoded": chars,
                    "media_spans": media,
                    "elapsed_sec": elapsed,
                    "spans_per_sec": spans / elapsed,
                }
            ]
        )

    return extracted_docs.mapInPandas(gen, METRICS_SCHEMA)


def cer_vs_reference(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Join extracted output to golden fixtures on doc_id; emit per-doc CER
    over the concatenated span texts. Built-in ``levenshtein`` stays
    JVM-side."""
    def flat(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            "doc_id",
            F.concat_ws(
                "␞", F.transform("spans", lambda s: s["text"])
            ).alias(out),
        )

    a = flat(extracted, "got")
    b = flat(golden, "want")
    joined = a.join(b, "doc_id")  # golden is dimension-sized in tests; at
    # scale it's a broadcast join (fixture suites are small by definition)
    return joined.select(
        "doc_id",
        (
            F.levenshtein("got", "want")
            / F.greatest(F.length("want"), F.lit(1))
        ).alias("cer"),
    )
