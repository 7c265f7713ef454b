"""Checkpoint resume (exactly-once) + lineage/metrics contracts."""

from __future__ import annotations

import itertools
import os
import threading
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ocr_text_recognition_spark.extraction import checkpoint, metrics, pipeline, udfs
from ocr_text_recognition_spark.io_pandas import pandas_to_spark, write_corpus_parquet


def test_kill_and_resume_exactly_once(spark, small_corpus, tmp_path):
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")

    # "crash" after the first wave
    first = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3, max_waves=1
    )
    assert len(first) == 3
    assert checkpoint.completed_buckets(spark, ledger) == set(first)

    # resume must process exactly the remaining buckets
    rest = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert sorted(first + rest) == list(range(8))

    # a second resume is a no-op
    again = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert again == []

    # output equals golden exactly-once (no dup doc_ids, full coverage)
    result = checkpoint.read_output(spark, out)
    assert result.count() == len(docs_pd)
    assert result.select("doc_id").distinct().count() == len(docs_pd)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in result.collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for _, r in golden_pd.iterrows()
    }
    assert got == want


def _as_dict(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_resume_through_file_uri_ledger(spark, small_corpus, tmp_path):
    """A ledger addressed by URI (file:// here, s3a:// on a cluster) is read
    through Spark: the resume skips the buckets it records."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = (tmp_path / "out").as_uri(), (tmp_path / "ledger").as_uri()
    assert ledger.startswith("file://")

    first = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3, max_waves=1
    )
    assert checkpoint.completed_buckets(spark, ledger) == set(first)
    rest = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert sorted(rest) == sorted(set(range(8)) - set(first))
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )


def _counting_ref_udf(spark):
    """A stand-in for ``make_extract_ref_udf`` whose UDFs count, in one
    accumulator summed over every executor task, the rows they are called
    on."""
    calls = spark.sparkContext.accumulator(0)

    def make_counting_ref_udf(**options):
        inner = udfs.make_extract_ref_udf(**options).func

        @pandas_udf(StringType())
        def counting_extract_ref_udf(
            batches: Iterator[tuple[pd.Series, pd.Series]],
        ) -> Iterator[pd.Series]:
            for kinds, payloads in batches:
                calls.add(len(kinds))
                yield from inner(iter([(kinds, payloads)]))

        return counting_extract_ref_udf

    return make_counting_ref_udf, calls


def _distinct_refs(docs, buckets, n_buckets):
    in_buckets = docs.filter(checkpoint.bucket_of(F.col("doc_id"), n_buckets).isin(list(buckets)))
    spans = pipeline.explode_spans(in_buckets).filter(F.col("kind").isin("media", "pdf"))
    return spans.select("kind", "media_ref").distinct().count()


def test_kernel_runs_once_per_distinct_ref(spark, small_corpus, tmp_path, monkeypatch):
    """The ref UDF sees each distinct (kind, media_ref) of the planned
    buckets exactly once per invocation, however many waves share it."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    waves = [[0, 1, 2], [3, 4, 5], [6, 7]]
    # refs shared across waves: a per-wave distinct pass would run more
    per_wave = sum(_distinct_refs(docs, w, 8) for w in waves)
    assert per_wave > _distinct_refs(docs, range(8), 8)

    make_ref_udf, calls = _counting_ref_udf(spark)
    monkeypatch.setattr(pipeline, "make_extract_ref_udf", make_ref_udf)
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
    done = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert done == [b for w in waves for b in w]
    assert calls.value == _distinct_refs(docs, range(8), 8)
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )

    # kill after one wave, then resume: each run recognizes only the refs
    # of the buckets it plans
    out, ledger = str(tmp_path / "out2"), str(tmp_path / "ledger2")
    make_ref_udf, calls = _counting_ref_udf(spark)
    monkeypatch.setattr(pipeline, "make_extract_ref_udf", make_ref_udf)
    first = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3, max_waves=1
    )
    assert calls.value == _distinct_refs(docs, first, 8)

    make_ref_udf, calls = _counting_ref_udf(spark)
    monkeypatch.setattr(pipeline, "make_extract_ref_udf", make_ref_udf)
    rest = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert sorted(first + rest) == list(range(8))
    assert calls.value == _distinct_refs(docs, rest, 8)


def test_checkpointed_run_leaves_no_cached_frames(spark, small_corpus, tmp_path):
    """The per-invocation ref table is released whether the run finishes
    or its write raises, and a plain run_extraction caches nothing."""
    docs_pd, media_pd, _ = small_corpus
    write_corpus_parquet(docs_pd, media_pd, str(tmp_path))
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = spark.read.parquet(str(tmp_path / "media.parquet"))

    def persisted() -> int:  # each call takes a fresh snapshot of the map
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()

    pipeline.run_extraction(spark, docs, media).collect()
    assert persisted() == before

    checkpoint.run_with_checkpoints(
        spark, docs, media, str(tmp_path / "out"), str(tmp_path / "ledger"),
        n_buckets=4, buckets_per_wave=2,
    )
    assert persisted() == before

    blocker = tmp_path / "blocker"
    blocker.write_text("a file where the output directory's parent should be")
    with pytest.raises(Exception):
        checkpoint.run_with_checkpoints(
            spark, docs, media, str(blocker / "out"), str(tmp_path / "ledger2"),
            n_buckets=4, buckets_per_wave=2,
        )
    assert not (tmp_path / "ledger2").exists()  # it failed at the first output write
    assert persisted() == before


def _leftovers(*dirs) -> list[str]:
    """Committer staging entries left anywhere under ``dirs``."""
    return [
        os.path.join(root, n)
        for d in dirs
        for root, subdirs, files in os.walk(d)
        for n in subdirs + files
        if n.startswith((".spark-staging-", "_temporary"))
    ]


def _wave_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("checkpoint-wave")]


def test_overlapping_waves_commit_before_ledger(spark, small_corpus, tmp_path):
    """Four waves, two in flight: the output is the golden, each bucket is
    ledgered once, the ledger stamps follow wave order, no committer
    staging is left behind and every wave thread has exited."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
    threads = threading.active_count()

    done = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=2
    )
    assert done == list(range(8))
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )
    rows = spark.read.schema(checkpoint.LEDGER_SCHEMA).parquet(ledger).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(8))
    stamps = {r["bucket"]: r["completed_at"] for r in rows}
    wave_stamps = [{stamps[b] for b in done[i : i + 2]} for i in range(0, 8, 2)]
    assert all(len(s) == 1 for s in wave_stamps)  # one append per wave
    order = [s.pop() for s in wave_stamps]
    assert order == sorted(order) and len(set(order)) == 4
    assert _leftovers(out, ledger) == []
    assert threading.active_count() == threads and _wave_threads() == []


def test_failing_wave_propagates_and_resumes(spark, small_corpus, tmp_path, monkeypatch):
    """A wave that raises: the caller gets the error, every ledgered bucket
    has committed output, the stage is released and no wave thread is
    left; a clean resume then reaches the golden with each bucket ledgered
    exactly once."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    threads = threading.active_count()

    calls = itertools.count(1)
    real_write_wave = checkpoint.write_wave

    def third_call_fails(*args, **kwargs):
        if next(calls) == 3:
            raise RuntimeError("wave failed")
        return real_write_wave(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "write_wave", third_call_fails)
    with pytest.raises(RuntimeError, match="wave failed"):
        checkpoint.run_with_checkpoints(
            spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=2, run_id="failed"
        )
    ledgered = checkpoint.completed_buckets(spark, ledger)
    # whole waves, in order, stopping before the failed one
    assert sorted(ledgered) == list(range(len(ledgered))) and len(ledgered) in (2, 4)
    has_docs = {b for b, c in _golden_bucket_counts(spark, golden_pd, 8).items() if c[0]}
    assert all((tmp_path / "out" / f"bucket={b}").is_dir() for b in ledgered & has_docs)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert threading.active_count() == threads and _wave_threads() == []

    monkeypatch.setattr(checkpoint, "write_wave", real_write_wave)
    rest = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=2, run_id="resume"
    )
    assert sorted(ledgered) + rest == list(range(8))
    rows = spark.read.schema(checkpoint.LEDGER_SCHEMA).parquet(ledger).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(8))
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )


def test_caller_job_group_covers_every_wave(spark, small_corpus, tmp_path):
    """Every job of a checkpointed run, the waves' writes on their worker
    threads included, runs under the job group the caller set (so the
    caller can cancel them); a thread that dropped the caller's local
    properties would launch its jobs outside any group."""
    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))

    sc.setJobGroup("extract", "checkpointed extraction")
    try:
        done = checkpoint.run_with_checkpoints(
            spark, docs, media, str(tmp_path / "out"), str(tmp_path / "ledger"),
            n_buckets=8, buckets_per_wave=2,
        )
    finally:
        sc._jsc.clearJobGroup()
    assert done == list(range(8))
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the status store
    grouped = tracker.getJobIdsForGroup("extract")
    # per wave at least its output write and its ledger append
    assert len(grouped) >= 2 * 4
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_wave_arguments_are_validated(spark, small_corpus, tmp_path):
    """Bucket counts below 1 raise a named ValueError before the ledger is
    read (here a plain file that no parquet read would accept)."""
    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    ledger = tmp_path / "ledger"
    ledger.write_text("not a ledger")
    for kw in ({"n_buckets": 0}, {"buckets_per_wave": 0}, {"n_buckets": -1}):
        with pytest.raises(ValueError, match="must be >= 1"):
            checkpoint.run_with_checkpoints(
                spark, docs, media, str(tmp_path / "out"), str(ledger), **kw
            )
    assert not (tmp_path / "out").exists()


def _golden_bucket_counts(spark, golden_pd, n_buckets):
    """{bucket: (docs, spans, chars, media spans)} of the golden spans,
    grouped by ``checkpoint.bucket_of``."""
    ids = spark.createDataFrame([(d,) for d in golden_pd["doc_id"]], "doc_id string")
    bucket = {
        r["doc_id"]: r["b"]
        for r in ids.select("doc_id", checkpoint.bucket_of(F.col("doc_id"), n_buckets).alias("b")).collect()
    }
    want = {b: [0, 0, 0, 0] for b in range(n_buckets)}
    for _, r in golden_pd.iterrows():
        c = want[bucket[r["doc_id"]]]
        c[0] += 1
        c[1] += len(r["spans"])
        c[2] += sum(len(s["text"] or "") for s in r["spans"])
        c[3] += sum(s["kind"] == "media" for s in r["spans"])
    return {b: tuple(c) for b, c in want.items()}


def test_bucket_metrics_count_each_bucket_once_across_resumes(spark, small_corpus, tmp_path):
    """Kill, resume, no-op resume: the metrics of the runs that processed
    buckets cover every bucket exactly once, with the golden counts, and
    join the ledger 1:1 on (run_id, bucket)."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")

    rows, runs = [], []
    for run_id, max_waves in (("kill", 1), ("resume", None), ("noop", None)):
        done = checkpoint.run_with_checkpoints(
            spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3,
            max_waves=max_waves, run_id=run_id,
        )
        runs.append(done)
        if done:  # as jobs/extract.py: a run that processed nothing adds no rows
            rows += metrics.bucket_metrics(spark, out, done, run_id).collect()
    assert len(runs[0]) == 3 and len(runs[1]) == 5 and runs[2] == []

    assert sorted(r["bucket"] for r in rows) == list(range(8))
    got = {r["bucket"]: (r["docs"], r["spans"], r["chars_decoded"], r["media_spans"]) for r in rows}
    assert got == _golden_bucket_counts(spark, golden_pd, 8)

    ledger_rows = spark.read.schema(checkpoint.LEDGER_SCHEMA).parquet(ledger).collect()
    assert sorted((r["run_id"], r["bucket"]) for r in ledger_rows) == sorted(
        (r["run_id"], r["bucket"]) for r in rows
    )
    assert all(r["wave_s"] > 0 for r in ledger_rows)


def test_resume_over_ledger_without_wave_s(spark, small_corpus, tmp_path):
    """A ledger written before ``wave_s`` existed still resumes: its
    buckets are skipped, new rows append with ``wave_s``, old rows read it
    as NULL."""
    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
    spark.createDataFrame(
        [(b, "old", 1.0) for b in (0, 1, 2)], "bucket int, run_id string, completed_at double"
    ).write.parquet(ledger)

    done = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3, run_id="new"
    )
    assert done == [3, 4, 5, 6, 7]
    assert checkpoint.completed_buckets(spark, ledger) == set(range(8))
    rows = spark.read.schema(checkpoint.LEDGER_SCHEMA).parquet(ledger).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(8))
    assert all(r["wave_s"] is None for r in rows if r["run_id"] == "old")
    assert all(r["wave_s"] > 0 for r in rows if r["run_id"] == "new")


def test_resume_with_other_bucket_count_is_refused(spark, small_corpus, tmp_path):
    """Bucket numbers name different doc_id sets under another bucket
    count, so a resume with another ``n_buckets`` than the ledger's raises
    before any wave (it would write some documents twice): the ledger and
    the output stay as the killed run left them, and a resume with the
    ledger's count still reaches the golden."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")

    first = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3, max_waves=1
    )
    written = sorted(os.listdir(out))
    with pytest.raises(ValueError, match=r"n_buckets=\[8\], not 16"):
        checkpoint.run_with_checkpoints(
            spark, docs, media, out, ledger, n_buckets=16, buckets_per_wave=3
        )
    assert sorted(os.listdir(out)) == written
    rows = spark.read.schema(checkpoint.LEDGER_SCHEMA).parquet(ledger).collect()
    assert sorted(r["bucket"] for r in rows) == sorted(first)
    assert {r["n_buckets"] for r in rows} == {8}

    rest = checkpoint.run_with_checkpoints(
        spark, docs, media, out, ledger, n_buckets=8, buckets_per_wave=3
    )
    assert sorted(first + rest) == list(range(8))
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )


def test_waves_do_not_share_local_properties(spark, small_corpus, tmp_path, monkeypatch):
    """Each wave runs with its own copy of the caller's local properties. A
    wave's queries write their SQL execution id there, so one copy shared by
    two running waves would hand one wave's id to the other's jobs."""
    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    identity = spark._jvm.java.lang.System.identityHashCode
    seen = []
    real_write_wave = checkpoint.write_wave

    def recording_write_wave(*args):
        seen.append(identity(spark.sparkContext._jsc.sc().getLocalProperties()))
        return real_write_wave(*args)

    monkeypatch.setattr(checkpoint, "write_wave", recording_write_wave)
    done = checkpoint.run_with_checkpoints(
        spark, docs, media, str(tmp_path / "out"), str(tmp_path / "ledger"),
        n_buckets=8, buckets_per_wave=2,
    )
    assert done == list(range(8))
    assert len(seen) == 4 and len(set(seen)) == 4


def test_waves_run_with_pinned_threads_off(spark, small_corpus, tmp_path, monkeypatch):
    """With PySpark's pinned-thread mode off, ``inheritable_thread_target``
    hands back its argument (the session) instead of a wrapper; the waves
    then run ``write_wave`` as it is and the run still reaches the golden."""
    docs_pd, media_pd, golden_pd = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    monkeypatch.setattr(checkpoint, "inheritable_thread_target", lambda f: f)
    out = str(tmp_path / "out")
    done = checkpoint.run_with_checkpoints(
        spark, docs, media, out, str(tmp_path / "ledger"), n_buckets=8, buckets_per_wave=3
    )
    assert done == list(range(8))
    assert _as_dict(checkpoint.read_output(spark, out).collect()) == _as_dict(
        r for _, r in golden_pd.iterrows()
    )
