"""Structured Streaming front-ends (SURVEY.md §2.11).

The reference is strictly request/response; the north rule's
'streaming-shaped' requirement is resumability, which the batch pipeline
covers with the bucket ledger (``extraction.checkpoint.run_with_checkpoints``
is the one resumable extraction driver). These entry points are the
streaming operator family over arriving files and event streams, e.g.:

- ``windowed_event_counts``: watermarked tumbling-window aggregation over an
  event stream (late data dropped past the watermark) — the streaming twin
  of q26_windowed_events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_dedup(
    spark: SparkSession,
    docs_dir: str,
    sig_table_dir: str,
    dups_out_dir: str,
    checkpoint_dir: str,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Per-ingest streaming dedup — the production shape of
    ``lsh_candidate_pairs_incremental``: each arriving micro-batch of
    documents (parquet files with (doc_id, text)) is minhash-signed, its
    signatures band-joined against the STANDING signature table on disk,
    candidate duplicate pairs (est_jaccard >= threshold) appended to
    ``dups_out_dir``, and the batch's OWN signatures appended to the
    signature table so later batches dedup against it too. The corpus is
    never re-signed: its side of every join is a parquet scan.

    foreachBatch is AT-LEAST-ONCE (a crash between side effects replays
    the batch_id), so BOTH outputs are batch-scoped overwrite
    subdirectories — a replayed batch rewrites its own directory instead
    of appending duplicates. Read either output with
    ``spark.read.parquet(f"{dir}/*/")``. The standing-table probe goes
    through Spark's read path (not driver-local os.listdir), so the
    signature table can live on HDFS/S3.

    Returns the started StreamingQuery; callers awaitTermination()."""
    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures,
    )

    reader = spark.readStream.schema("doc_id long, text string")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        new_sigs = minhash_signatures(
            batch_df, "doc_id", "text", num_perm=num_perm
        ).persist()  # feeds both the join and the table append
        try:
            # Spark-side probe of the standing table: works on any
            # filesystem Spark can read (a driver-local os.walk would
            # silently see nothing on HDFS/S3 and skip dedup forever).
            # Exclude this batch's OWN rows: foreachBatch is
            # at-least-once, so a replay after a crash between the
            # signature write and the checkpoint commit would otherwise
            # see batch_{batch_id}'s signatures from the failed attempt
            # and join the batch against itself, emitting spurious
            # self-pairs (new_id == corpus_id, est_jaccard = 1.0).
            # The exclusion filters on the stamped batch_id COLUMN, not
            # on file paths (a path filter is brittle to layout/URI
            # formatting differences across filesystems).
            try:
                corpus_sigs = (
                    sess.read.parquet(f"{sig_table_dir}/*/")
                    .where(F.col("batch_id") != batch_id)
                    .drop("batch_id")
                )
            except Exception:
                corpus_sigs = None  # first batch: no table yet
            if corpus_sigs is not None:
                dups = lsh_candidate_pairs_incremental(
                    new_sigs, corpus_sigs, num_perm=num_perm, bands=bands
                ).filter(F.col("est_jaccard") >= threshold)
                # batch-scoped overwrite: replaying this batch_id rewrites
                # the same directory instead of appending duplicate rows
                dups.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "overwrite"
                ).parquet(f"{dups_out_dir}/batch_{batch_id}")
            # same idempotence shape for the signature table; batch_id
            # travels as a column so the replay exclusion above is
            # structural rather than path-string-based
            new_sigs.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(f"{sig_table_dir}/batch_{batch_id}")
        finally:
            new_sigs.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: Spark's native
    `dropDuplicatesWithinWatermark` keeps each key's state only until the
    event-time watermark passes it, so state size tracks the duplicate
    horizon, not the stream's lifetime — the property that lets an
    always-on ingest run for months. Duplicates separated by more than the
    watermark are NOT collapsed (contract); for a durable corpus-lifetime
    guarantee, compose with the `stream_dedup` foreachBatch path, which
    checks a persistent signature table."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def session_window_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session-window aggregation per user: events closer than
    ``gap`` merge into one session whose end extends ``gap`` past its
    last event. This is Spark's built-in stateful session operator —
    sessions that straddle micro-batches merge in state, and a session
    only finalizes (append mode) once the event-time watermark passes
    its end, which also bounds state. Batch twin: the same plan runs on
    a static DataFrame, where it agrees with the lag+cumsum
    ``operators/sessionize.gap_sessionize`` grouping (pinned by test;
    boundary nit — session_window splits at diff >= gap, gap_sessionize
    at diff > gap)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the always-on ingest's dimension
    lookup (event -> user profile, media_ref -> source metadata). The
    static side is broadcast per micro-batch, so the stream side never
    shuffles and no streaming state is created (a stream-static join is
    stateless by construction — only stream-stream joins buffer).
    ``left`` keeps events whose dimension row is missing (late dim
    arrival), the production-safe default."""
    return stream.join(F.broadcast(dim), key, how)


def attribute_conversions(
    clicks: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    click_ts: str = "click_ts",
    purchase_ts: str = "purchase_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM event-time interval join (the attribution shape:
    purchase matches every click by the same user in the preceding
    ``within``). Both sides are watermarked, and the join condition
    bounds purchase_ts to [click_ts, click_ts + within] — the
    time-range predicate is what lets Spark EVICT buffered rows once
    the watermark passes their match horizon; an unbounded-condition
    stream-stream join would buffer both streams forever. Inner join:
    the only mode where both sides' state is provably bounded without
    waiting for the watermark to close outer rows."""
    lc = clicks.withWatermark(click_ts, watermark).alias("c")
    pu = purchases.withWatermark(purchase_ts, watermark).alias("p")
    cond = F.expr(
        f"c.{user_col} = p.{user_col} AND "
        f"p.{purchase_ts} >= c.{click_ts} AND "
        f"p.{purchase_ts} <= c.{click_ts} + interval {within}"
    )
    return lc.join(pu, cond, "inner").select(
        F.col(f"c.{user_col}").alias(user_col),
        F.col(f"c.{click_ts}").alias(click_ts),
        F.col(f"p.{purchase_ts}").alias(purchase_ts),
    )
