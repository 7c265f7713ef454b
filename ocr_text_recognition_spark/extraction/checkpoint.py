"""Partition-level checkpointing + idempotent resume (SURVEY.md §4.2 item 2).

The unit of work is a doc_id hash bucket. Output is laid out as
``out_dir/bucket=N/`` (one directory per bucket, written atomically by
Spark's committer); a ledger parquet records each completed bucket as a
``(bucket, run_id, completed_at, wave_s)`` row, ``wave_s`` being the wall
time of the wave that committed it (NULL in ledgers written before the
column existed). Resume reprocesses only the buckets missing from the
ledger. Because bucket directories are overwritten whole and the ledger is
appended only AFTER a bucket's output commits, a crash between the two
reprocesses that bucket — deterministic kernel + whole-directory overwrite
= exactly-once output.

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
from concurrent.futures import Future

from pyspark import InheritableThread
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_text_recognition_spark.extraction.pipeline import assemble, recognize_refs

# The job's defaults (jobs/extract.py --n-buckets / --buckets-per-wave).
DEFAULT_N_BUCKETS = 256
DEFAULT_BUCKETS_PER_WAVE = 8
LEDGER_SCHEMA = "bucket int, run_id string, completed_at double, wave_s double"
# Waves computing or writing at once. Two overlap one wave's commit with the
# next one's work; after a crash, at most this many waves are committed but
# not ledgered (and are redone on resume).
WAVES_IN_FLIGHT = 2


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, ledger_dir: str) -> set[int]:
    """Buckets in the ledger at ``ledger_dir`` (any path Spark reads:
    local, ``file://``, object store); none when the ledger does not exist
    yet."""
    try:
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    return {r["bucket"] for r in ledger.select("bucket").distinct().collect()}


def bucket_frame(spark: SparkSession, buckets: list[int]) -> DataFrame:
    """One ``bucket`` row per entry of ``buckets``, built in the JVM (no
    Python rows to pickle through an RDD)."""
    return spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*[F.lit(int(b)) for b in buckets])).alias("bucket")
    )


def ledger_frame(spark: SparkSession, wave: list[int], run_id: str, wave_s: float) -> DataFrame:
    """The ledger rows of one finished wave that took ``wave_s`` seconds."""
    return bucket_frame(spark, wave).select(
        "bucket",
        F.lit(run_id).alias("run_id"),
        F.lit(time.time()).alias("completed_at"),
        F.lit(wave_s).alias("wave_s"),
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

    Concurrency contract: up to ``WAVES_IN_FLIGHT`` waves run at once, each
    on its own thread that inherits the caller's local properties, so a job
    group set by the caller covers (and can cancel) every wave's jobs. The
    calling thread waits for the waves in order and appends each wave's
    ledger rows strictly AFTER that wave's output commit, and only then
    starts the wave after next; the appends never overlap one another, since
    two appends to one path share a committer ``_temporary`` directory. A
    crash between a commit and its append is safe (the bucket is simply
    reprocessed; dynamic partition overwrite makes the redo idempotent). On
    the first wave error no further wave starts, the other in-flight wave is
    waited for (its buckets may commit unledgered, the same case), and the
    error is re-raised. TWO resumed drivers running concurrently can both
    pick an unledgered bucket and double-process it — also safe (idempotent
    output, duplicate ledger rows deduped by ``completed_buckets``'s
    distinct) but wasteful; deployments that need single-writer semantics
    should fence on ``run_id`` (e.g. a ledger precondition or a lock
    service) before starting a wave.
    """
    if n_buckets < 1 or buckets_per_wave < 1:
        raise ValueError(
            f"n_buckets and buckets_per_wave must be >= 1, got {n_buckets} and {buckets_per_wave}"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, ledger_dir)
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
    pending: deque = deque()  # (wave, thread, future), in wave order

    def start(wave: list[int]) -> tuple[list[int], InheritableThread, Future]:
        future: Future = Future()

        def body() -> None:
            try:
                future.set_result(write_wave(docs_b, ref_text, wave, n_buckets, out_dir))
            except BaseException as e:
                future.set_exception(e)

        # started from the caller's thread, so the wave inherits its local properties
        thread = InheritableThread(body, session=spark, name="checkpoint-wave")
        thread.start()
        return wave, thread, future

    try:
        ref_text.count()  # materialize: the kernel runs here, before any wave
        upcoming = deque(waves)
        while upcoming or pending:
            while upcoming and len(pending) < WAVES_IN_FLIGHT:
                pending.append(start(upcoming.popleft()))
            wave, thread, future = pending.popleft()
            thread.join()
            wave_s = future.result()
            # Ledger append happens strictly after the output commit.
            ledger_frame(spark, wave, run_id, wave_s).write.mode("append").parquet(ledger_dir)
            processed.extend(wave)
    finally:
        for _, thread, _ in pending:  # an in-flight wave still reads ref_text
            thread.join()
        ref_text.unpersist()
    return processed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir).drop("bucket")
