"""Spark-facing extraction layer: HTML main-content heuristics, Arrow-batched
kernel UDFs, the distributed pipeline, checkpointing, metrics.

The checkpoint ledger holds one ``(bucket, run_id, completed_at, wave_s,
n_buckets)`` row per committed bucket; ``metrics.bucket_metrics`` counts the
buckets a run committed into ``(run_id, bucket, docs, spans, chars_decoded,
media_spans)`` rows that join the ledger on ``(run_id, bucket)``."""
