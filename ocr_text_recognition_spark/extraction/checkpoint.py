"""Partition-level checkpointing + idempotent resume (SURVEY.md §4.2 item 2).

The unit of work is a doc_id hash bucket. Output is laid out as
``out_dir/bucket=N/`` (one directory per bucket, written atomically by
Spark's committer); a ledger parquet records each completed bucket as a
``(bucket, run_id, completed_at, wave_s, n_buckets)`` row, ``wave_s`` being
the wall time of the wave that committed it and ``n_buckets`` the run's
bucket count (each NULL in ledgers written before its column existed).
Resume reprocesses only the buckets missing from the ledger, and refuses a
ledger written with another bucket count. Because bucket directories are
overwritten whole and the ledger is appended only AFTER a bucket's output
commits, a crash between the two reprocesses that bucket — deterministic
kernel + whole-directory overwrite = exactly-once output.

Each invocation builds ONE persisted stage: every span of the buckets it
plans to process, with its final text (the HTML text UDF over text spans,
each distinct (kind, media_ref) recognized once for media and pdf spans),
tagged with its bucket and hash-partitioned by it. A wave is then the
stage filtered to its buckets, one aggregate per document and the write:
its only leaf is an InMemoryTableScan, and it runs no Python, reads no
file and shuffles nothing. The stage is a deterministic function of the
inputs and lives only in the Spark cache of this invocation (unpersisted
on exit, error or not), so it adds no state to resume from: a crash loses
recomputable cache, never a committed bucket, and the output and ledger
are written exactly as without it.

Waves are double-buffered: at most ``WAVES_IN_FLIGHT`` (two) waves compute
and write at once, so wave k+1's aggregate fills the cores while wave k
commits. The ledger appends stay on the calling thread, in wave order,
each after its own wave's output commit: concurrent appends to one ledger
path would share FileOutputCommitter's ``_temporary/0``, which the first
commit deletes. The output writes may overlap because a dynamic
partition overwrite stages each job under its own ``.spark-staging-<uuid>``
and the waves' bucket sets are disjoint.

The job's per-bucket counts (``metrics.bucket_metrics``) are keyed by the
same ``(run_id, bucket)`` as the ledger rows, so the two join 1:1.

On a real cluster the ledger lives in an Iceberg table and the output in an
Iceberg-partitioned table (overwritePartitions); the parquet-directory
layout here keeps identical semantics without the Iceberg runtime jar
(SURVEY.md §7 risk item).
"""

from __future__ import annotations

import time
import uuid
from collections import deque
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ocr_text_recognition_spark.extraction.pipeline import (
    reassemble_spans,
    recognize_refs,
    resolve_spans,
    text_spans,
)

# The job's defaults (jobs/extract.py --n-buckets / --buckets-per-wave).
DEFAULT_N_BUCKETS = 256
DEFAULT_BUCKETS_PER_WAVE = 8
LEDGER_SCHEMA = "bucket int, run_id string, completed_at double, wave_s double, n_buckets int"
# Waves computing or writing at once. Two overlap one wave's commit with the
# next one's work; after a crash, at most this many waves are committed but
# not ledgered (and are redone on resume).
WAVES_IN_FLIGHT = 2


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def _ledger_entries(spark: SparkSession, ledger_dir: str) -> set[tuple[int, int | None]]:
    """The distinct ``(bucket, n_buckets)`` pairs of the ledger at
    ``ledger_dir`` (any path Spark reads: local, ``file://``, object
    store), ``n_buckets`` NULL in rows written before the column existed;
    none when the ledger does not exist yet."""
    # Ask the file system first: a missing path read through Spark costs an
    # AnalysisException round trip on every first run.
    path = spark._jvm.org.apache.hadoop.fs.Path(ledger_dir)
    if not path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).exists(path):
        return set()
    ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)
    rows = ledger.select("bucket", "n_buckets").distinct().collect()
    return {(r["bucket"], r["n_buckets"]) for r in rows}


def completed_buckets(spark: SparkSession, ledger_dir: str) -> set[int]:
    """Buckets in the ledger at ``ledger_dir``; none when the ledger does
    not exist yet."""
    return {bucket for bucket, _ in _ledger_entries(spark, ledger_dir)}


def bucket_frame(spark: SparkSession, buckets: list[int]) -> DataFrame:
    """One ``bucket`` row per entry of ``buckets``, built in the JVM (no
    Python rows to pickle through an RDD)."""
    return spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*[F.lit(int(b)) for b in buckets])).alias("bucket")
    )


def ledger_frame(
    spark: SparkSession, wave: list[int], run_id: str, wave_s: float, n_buckets: int
) -> DataFrame:
    """The ledger rows of one finished wave of a ``n_buckets``-bucket run
    that took ``wave_s`` seconds."""
    return bucket_frame(spark, wave).select(
        "bucket",
        F.lit(run_id).alias("run_id"),
        F.lit(time.time()).alias("completed_at"),
        F.lit(wave_s).alias("wave_s"),
        F.lit(n_buckets).alias("n_buckets"),
    )


def stage_frame(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    buckets: list[int],
    n_buckets: int,
    preprocess_kwargs: dict | None = None,
) -> DataFrame:
    """Every span of the documents in ``buckets`` with its final text and
    its ``bucket``, hash-partitioned by ``bucket``: the frame an invocation
    persists once and every wave reads."""
    planned = docs.filter(bucket_of(F.col("doc_id"), n_buckets).isin(buckets))
    ref_text = recognize_refs(spark, planned, media, preprocess_kwargs)
    return (
        resolve_spans(text_spans(planned), ref_text)
        .withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        .repartition("bucket")
    )


def wave_frame(stage: DataFrame, wave: list[int]) -> DataFrame:
    """The output rows (bucket, doc_id, spans) of ``wave``'s buckets. The
    stage's hash partitioning on ``bucket`` already puts each bucket's
    spans, and so each document's, in one task: the aggregate needs no
    exchange."""
    return reassemble_spans(stage.filter(F.col("bucket").isin(wave)), keys=("bucket", "doc_id"))


def write_wave(stage: DataFrame, wave: list[int], out_dir: str) -> float:
    """Overwrite the output directories of ``wave``'s buckets with their
    documents reassembled from ``stage``; returns the wave's wall time in
    seconds. The partitioned write keeps the stage's partitioning, so each
    bucket is written by the one task that aggregated it."""
    t0 = time.perf_counter()
    # Whole-directory overwrite per bucket == idempotent re-run.
    (
        wave_frame(stage, wave)
        .write.partitionBy("bucket")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(out_dir)
    )
    return time.perf_counter() - t0


def run_with_checkpoints(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    ledger_dir: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    buckets_per_wave: int = DEFAULT_BUCKETS_PER_WAVE,
    max_waves: int | None = None,
    run_id: str | None = None,
    preprocess_kwargs: dict | None = None,
) -> list[int]:
    """Process the corpus bucket-wave by bucket-wave, checkpointing each.

    ``max_waves`` exists for kill/resume tests (process only the first K
    waves, then 'crash'); it also bounds the stage, which covers only the
    planned buckets. Returns the buckets processed this invocation, in
    wave order.

    The stage is built and counted once, before the first wave: the
    documents table is scanned twice (once for the spans, once for their
    refs), the text UDF runs over each planned span once and the ref UDF
    over each distinct planned ref once. It holds the output-sized spans
    of the planned buckets (MEMORY_AND_DISK, so it spills rather than
    fails), where a cache of the recognized refs alone would hold only
    their text. Each bucket's aggregate runs in the one task that writes
    that bucket. A crash loses at most ``WAVES_IN_FLIGHT`` waves' commits
    (redone on resume, see below) plus the stage, which the resume rebuilds
    over the buckets it still has to do.

    A ledger with another non-NULL ``n_buckets`` raises ValueError before
    any wave: its bucket numbers name other doc_id sets, so a resume over it
    would write some documents twice.

    Concurrency contract: up to ``WAVES_IN_FLIGHT`` waves run at once on
    worker threads, each wave with its own copy of the caller's local
    properties, so a job group set by the caller covers (and can cancel)
    every wave's jobs. The calling thread waits for the waves in order and
    appends each wave's ledger rows strictly AFTER that wave's output
    commit, and only then starts the wave after next; the appends never
    overlap one another, since two appends to one path share a committer
    ``_temporary`` directory. A
    crash between a commit and its append is safe (the bucket is simply
    reprocessed; dynamic partition overwrite makes the redo idempotent). On
    the first wave error no further wave starts, the other in-flight wave is
    waited for (its buckets may commit unledgered, the same case), and the
    error is re-raised. TWO resumed drivers running concurrently can both
    pick an unledgered bucket and double-process it — also safe (idempotent
    output, duplicate ledger rows deduped by the ledger read's
    distinct) but wasteful; deployments that need single-writer semantics
    should fence on ``run_id`` (e.g. a ledger precondition or a lock
    service) before starting a wave.
    """
    if n_buckets < 1 or buckets_per_wave < 1:
        raise ValueError(
            f"n_buckets and buckets_per_wave must be >= 1, got {n_buckets} and {buckets_per_wave}"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    entries = _ledger_entries(spark, ledger_dir)
    other = sorted({n for _, n in entries if n not in (None, n_buckets)})
    if other:
        raise ValueError(f"ledger {ledger_dir} was written with n_buckets={other}, not {n_buckets}")
    done = {bucket for bucket, _ in entries}
    todo = [b for b in range(n_buckets) if b not in done]
    waves = [todo[i : i + buckets_per_wave] for i in range(0, len(todo), buckets_per_wave)]
    if max_waves is not None:
        waves = waves[:max_waves]
    if not waves:
        return []

    planned = [b for w in waves for b in w]
    stage = stage_frame(spark, docs, media, planned, n_buckets, preprocess_kwargs).persist()
    processed: list[int] = []
    try:
        stage.count()  # materialize: both UDFs run here, before any wave
        # leaving the pool joins the in-flight wave, also on an error
        with ThreadPoolExecutor(WAVES_IN_FLIGHT, thread_name_prefix="checkpoint-wave") as pool:
            upcoming, pending = deque(waves), deque()  # pending: (wave, future), in wave order
            while upcoming or pending:
                while upcoming and len(pending) < WAVES_IN_FLIGHT:
                    wave = upcoming.popleft()
                    # One copy of the caller's local properties (job group
                    # included) per wave: a wave's queries write their SQL
                    # execution ids into it. Unpinned, the call returns spark.
                    wrap = inheritable_thread_target(spark)
                    write = write_wave if wrap is spark else wrap(write_wave)
                    pending.append((wave, pool.submit(write, stage, wave, out_dir)))
                wave, future = pending.popleft()
                wave_s = future.result()
                # Ledger append happens strictly after the output commit.
                ledger = ledger_frame(spark, wave, run_id, wave_s, n_buckets)
                ledger.write.mode("append").parquet(ledger_dir)
                processed.extend(wave)
    finally:
        stage.unpersist()  # an in-flight wave reads the stage until the pool is left
    return processed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir).drop("bucket")
