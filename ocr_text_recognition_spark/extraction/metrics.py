"""Per-bucket lineage + extraction metrics (north star, BASELINE.json:6):
docs, spans, chars decoded and media spans of each bucket a run committed,
keyed by ``(run_id, bucket)`` like the checkpoint ledger rows they join.
Everything here stays in the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_text_recognition_spark.extraction.checkpoint import bucket_frame


def bucket_metrics(spark: SparkSession, out_dir: str, buckets: list[int], run_id: str) -> DataFrame:
    """One ``(run_id, bucket, docs, spans, chars_decoded, media_spans)`` row
    per bucket of ``buckets`` (zeros for a bucket without documents).

    The read of the checkpointed output at ``out_dir`` is pruned to the
    ``bucket=N`` directories of ``buckets``: O(processed), not O(corpus).
    """
    out = spark.read.parquet(out_dir).filter(F.col("bucket").isin([int(b) for b in buckets]))
    counts = out.groupBy("bucket").agg(
        F.count("*").alias("docs"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(
            F.aggregate("spans", F.lit(0), lambda n, s: n + F.coalesce(F.length(s["text"]), F.lit(0)))
        ).alias("chars_decoded"),
        F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "media"))).alias("media_spans"),
    )
    return bucket_frame(spark, buckets).join(counts, "bucket", "left").select(
        F.lit(run_id).alias("run_id"),
        "bucket",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in ("docs", "spans", "chars_decoded", "media_spans")],
    )

