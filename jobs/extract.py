"""spark-submit job entry (north star: 'packaged for spark-submit --py-files').

    zip -r engine.zip ocr_text_recognition_spark
    spark-submit --py-files engine.zip jobs/extract.py \
        --docs  s3://.../documents   (parquet/Iceberg path: doc_id, spans) \
        --media s3://.../media       (media_ref, content) \
        --out   s3://.../extracted \
        --ledger s3://.../ledger \
        [--metrics s3://.../metrics] [--n-buckets 256] \
        [--buckets-per-wave 8] [--run-id ID]

Every run resumes idempotently: buckets already in the ledger are skipped.
The ledger gets one ``(bucket, run_id, completed_at, wave_s, n_buckets)``
row per bucket it commits; a resume with another ``--n-buckets`` than the
ledger's fails before any work. With ``--metrics``, the run appends one
``(run_id, bucket, docs, spans, chars_decoded, media_spans)`` row per
bucket it processed, counted in the JVM from those buckets' output only;
it joins the ledger on ``(run_id, bucket)``. A run that processes nothing
appends nothing.
"""

from __future__ import annotations

import argparse
import os
import uuid


def main() -> None:
    from ocr_text_recognition_spark.extraction.checkpoint import (
        DEFAULT_BUCKETS_PER_WAVE,
        DEFAULT_N_BUCKETS,
        run_with_checkpoints,
    )
    from ocr_text_recognition_spark.kernel.reference_kernel import (
        PREPROCESS_DEFAULTS,
        PREPROCESS_OPTIONS,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--media", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    ap.add_argument("--buckets-per-wave", type=int, default=DEFAULT_BUCKETS_PER_WAVE)
    ap.add_argument("--run-id", default=None)
    # kernel preprocessing for photographed/scanned corpora
    # (enhanced_table_ocr_service.py:58-60 / ocr_model.py:66-68 semantics),
    # with preprocess_image's values and defaults
    option, default = PREPROCESS_OPTIONS, PREPROCESS_DEFAULTS
    ap.add_argument("--binarizer", choices=option["binarizer"], default=default["binarizer"])
    ap.add_argument("--adaptive-block", type=int, default=default["adaptive_block"])
    ap.add_argument("--rotate-portrait", action="store_true")
    ap.add_argument("--denoise", choices=option["denoise"], default=default["denoise"])
    ap.add_argument("--sharpen-first", action="store_true")
    ap.add_argument("--deskew", choices=option["deskew"], default=default["deskew"])
    args = ap.parse_args()

    if args.adaptive_block != default["adaptive_block"] and args.binarizer != "adaptive":
        ap.error("--adaptive-block requires --binarizer adaptive")
    if args.n_buckets < 1 or args.buckets_per_wave < 1:
        ap.error("--n-buckets and --buckets-per-wave must be >= 1")
    # one lineage key for the ledger rows and the metrics rows
    run_id = args.run_id or uuid.uuid4().hex[:12]
    preprocess_kwargs = {name: getattr(args, name) for name in PREPROCESS_DEFAULTS}

    from ocr_text_recognition_spark.extraction.metrics import bucket_metrics
    from ocr_text_recognition_spark.extraction.pipeline import extraction_session_conf
    from ocr_text_recognition_spark.session import default_cores, get_spark
    from ocr_text_recognition_spark.sources import read_table, write_table

    # Scan/shuffle sizing for a compute-bound job: target >= 4 splits per
    # slot, clamped back to Spark's stock values at multi-GB inputs (the
    # helper is a no-op on a production-scale table). Local paths only;
    # object-store and table inputs get Spark's stock split sizing.
    def _local_bytes(path: str) -> int:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        return 0

    extra_conf = None
    nbytes = _local_bytes(args.docs) + _local_bytes(args.media)
    if nbytes:
        extra_conf = extraction_session_conf(nbytes, default_cores())
    spark = get_spark("extract_job", extra_conf=extra_conf)
    docs = read_table(spark, args.docs)
    media = read_table(spark, args.media)
    processed = run_with_checkpoints(
        spark,
        docs,
        media,
        out_dir=args.out,
        ledger_dir=args.ledger,
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        run_id=run_id,
        preprocess_kwargs=preprocess_kwargs,
    )
    print(f"processed buckets: {processed}")
    if args.metrics and processed:
        write_table(bucket_metrics(spark, args.out, processed, run_id), args.metrics, mode="append")


if __name__ == "__main__":
    main()
