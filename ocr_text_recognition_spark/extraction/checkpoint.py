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

Each invocation recognizes every distinct (kind, media_ref) of the buckets
it plans to process ONCE, into a persisted ref table (kind, media_ref,
text) that every wave joins against; a wave scans only its documents and
runs only the text UDF and reassembly. The table is a deterministic
function of the payloads and lives only in the Spark cache of this
invocation (unpersisted on exit, error or not), so it adds no state to
resume from: a crash loses recomputable cache, never a committed bucket,
and the output and ledger are written exactly as without it.

Waves are double-buffered: at most ``WAVES_IN_FLIGHT`` (two) waves compute
and write at once, so wave k+1's planning, scan and shuffles fill the cores
while wave k commits. The ledger appends stay on the calling thread, in wave
order, each after its own wave's output commit: concurrent appends to one
ledger path would share FileOutputCommitter's ``_temporary/0``, which the
first commit deletes. The output writes may overlap because a dynamic
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

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ocr_text_recognition_spark.extraction.pipeline import assemble, recognize_refs

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
    try:
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
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


def write_wave(
    docs_b: DataFrame, ref_text: DataFrame, wave: list[int], n_buckets: int, out_dir: str
) -> float:
    """Assemble the documents of ``wave``'s buckets against ``ref_text`` and
    overwrite those buckets' output directories; returns the wave's wall
    time in seconds."""
    t0 = time.perf_counter()
    wave_docs = docs_b.filter(F.col("bucket").isin(wave)).drop("bucket")
    result = assemble(wave_docs, ref_text).withColumn(
        "bucket", bucket_of(F.col("doc_id"), n_buckets)
    )
    # Whole-directory overwrite per bucket == idempotent re-run.
    (
        result.repartition("bucket")
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
    waves, then 'crash'); it also bounds the ref table, which covers only
    the planned buckets. Returns the buckets processed this invocation, in
    wave order.

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

    docs_b = docs.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
    planned = docs_b.filter(F.col("bucket").isin([b for w in waves for b in w])).drop("bucket")
    ref_text = recognize_refs(spark, planned, media, preprocess_kwargs).persist()
    processed: list[int] = []
    try:
        ref_text.count()  # materialize: the kernel runs here, before any wave
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
                    future = pool.submit(write, docs_b, ref_text, wave, n_buckets, out_dir)
                    pending.append((wave, future))
                wave, future = pending.popleft()
                wave_s = future.result()
                # Ledger append happens strictly after the output commit.
                ledger = ledger_frame(spark, wave, run_id, wave_s, n_buckets)
                ledger.write.mode("append").parquet(ledger_dir)
                processed.extend(wave)
    finally:
        ref_text.unpersist()  # an in-flight wave reads ref_text until the pool is left
    return processed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir).drop("bucket")
