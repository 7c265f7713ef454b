"""Streaming operators + sink round-trips."""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def test_windowed_event_counts_batch_equivalence(spark):
    """The streaming aggregation expression, applied to a bounded frame,
    must equal the plain batch aggregation."""
    from ocr_text_recognition_spark.streaming.incremental import windowed_event_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    streamed_expr = windowed_event_counts(ev)  # same expressions, batch input
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    a = {tuple(r) for r in streamed_expr.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b


def test_sinks_roundtrip(spark, tmp_path):
    from ocr_text_recognition_spark import sinks

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5)], "id long, name string, v double"
    )
    sinks.write_csv(df, str(tmp_path / "csv"))
    back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == 2 and set(back.columns) == {"id", "name", "v"}

    sinks.write_json(df, str(tmp_path / "json"))
    assert spark.read.json(str(tmp_path / "json")).count() == 2

    sinks.write_tsv(df, str(tmp_path / "tsv"))
    assert spark.read.option("sep", "\t").option("header", True).csv(str(tmp_path / "tsv")).count() == 2

    sinks.write_text(df.select(F.col("name")), str(tmp_path / "txt"), "name")
    assert {r[0] for r in spark.read.text(str(tmp_path / "txt")).collect()} == {"alpha", "beta"}

    cells = spark.createDataFrame(
        [("d", 0, 0, "Subject"), ("d", 0, 1, "HK1"), ("d", 1, 0, "Math"), ("d", 1, 1, "8,5")],
        "doc_id string, row_idx int, col_idx int, value string",
    )
    sinks.write_grades_json(cells, str(tmp_path / "grades"))
    line = spark.read.text(str(tmp_path / "grades")).collect()[0][0]
    assert '"subject":"Math"' in line and "8.5" in line


def test_watermark_drops_late_events(spark, tmp_path):
    """True streaming run: an event arriving in batch 2 that is older than
    the watermark established by batch 1 is DROPPED from the append-mode
    windowed aggregation (the late-data contract of the north rule's
    streaming front-end)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.streaming.incremental import windowed_event_counts

    schema = pa.schema(
        [("event_id", pa.int64()), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()),
         ("ts", pa.timestamp("us"))]
    )
    def write(name, rows):
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([r[i] for r in rows], schema.field(i).type) for i in range(5)],
                schema=schema),
            str(in_dir / name))

    from datetime import datetime
    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    # run 1: events up to 12:00 -> watermark persisted = 10:00 (2h)
    write("b1.parquet", [(1, 1, "click", 1.0, t(9)), (2, 1, "click", 1.0, t(12))])

    # two sequential availableNow runs sharing a checkpoint: the watermark
    # established by run 1 (batch of b1 only) persists and filters run 2
    out_dir = str(tmp_path / "win_out")

    def drain():
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string, value double, ts timestamp"
        ).parquet(str(in_dir))
        out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(600), "availableNow query did not finish"

    drain()
    # run 2: one on-time event at 13:00 and one LATE event at 07:00
    # (07:00 window end 08:00 < persisted watermark 10:00 -> dropped)
    write("b2.parquet", [(3, 1, "click", 1.0, t(13)), (4, 1, "click", 99.0, t(7))])
    drain()

    rows = {(r["window_start"].hour, r["n"], r["sum_value"])
            for r in spark.read.parquet(out_dir).collect()}
    # append mode only FINALIZES windows below the watermark: the 09:00
    # window closed (watermark 11:00 after batch 2's 13:00 max) — and the
    # late 07:00 event must NOT have created a finalized 07:00 window row
    assert not any(h == 7 for h, _, _ in rows)
    assert (9, 1, 1.0) in rows


def test_excel_edge_sink_positive_roundtrip(spark, tmp_path):
    """The Excel edge sink's SUCCESS branch (reference export_to_excel,
    table_ocr_service.py:527-553): write a real .xlsx and read it back via
    the stdlib reader — types and values survive."""
    from ocr_text_recognition_spark import sinks
    from ocr_text_recognition_spark.xlsx import read_xlsx

    df = spark.createDataFrame(
        [("Math", 8.5, 1, True, None), ("Lit <&> 'x'", 9.0, 2, False, "note")],
        "subject string, grade double, n long, passed boolean, extra string",
    )
    path = str(tmp_path / "grades.xlsx")
    assert sinks.to_excel_edge(df, path) is True

    cols, rows = read_xlsx(path)
    assert cols == ["subject", "grade", "n", "passed", "extra"]
    assert sorted(rows) == sorted(
        [("Math", 8.5, 1, True, None), ("Lit <&> 'x'", 9.0, 2, False, "note")]
    )


def test_excel_edge_sink_size_gate(spark, tmp_path):
    from ocr_text_recognition_spark import sinks

    df = spark.range(0, 50).select(F.col("id"))
    path = str(tmp_path / "too_big.xlsx")
    assert sinks.to_excel_edge(df, path, max_rows=10) is False
    import os

    assert not os.path.exists(path)


def test_stream_dedup_incremental(spark, tmp_path):
    """Per-ingest streaming dedup: batch 1 seeds the signature table,
    batch 2 (five exact copies + five novel docs) flags exactly the
    copies against the standing table — and the table itself grows by
    one batch-scoped parquet directory per micro-batch."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.streaming.incremental import stream_dedup

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    texts = [f"document number {i} with some shared words " * 3 for i in range(10)]

    def write(name, rows):
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([r[0] for r in rows], pa.int64()),
                 pa.array([r[1] for r in rows], pa.string())],
                names=["doc_id", "text"],
            ),
            str(in_dir / name),
        )

    write("b1.parquet", [(i, texts[i]) for i in range(10)])
    time.sleep(1.1)  # distinct mtime -> deterministic file order
    write("b2.parquet", [(100 + i, texts[i]) for i in range(5)]
          + [(200 + i, f"completely fresh content {i} nothing shared") for i in range(5)])

    sig_dir = str(tmp_path / "sig_table")
    dups_dir = str(tmp_path / "dups_out")
    spark.conf.set("spark.sql.streaming.fileSource.schema.forceNullable", "true")
    q = stream_dedup(
        spark,
        str(in_dir),
        sig_dir,
        dups_dir,
        str(tmp_path / "dd_ckpt"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(600), "availableNow query did not finish"

    # batch-scoped signature dirs exist for both micro-batches; the dup
    # output is batch-scoped too (replay idempotence: a replayed batch
    # rewrites its own directory, never appends)
    assert sorted(d for d in os.listdir(sig_dir) if d.startswith("batch_")) == [
        "batch_0", "batch_1",
    ]
    assert sorted(os.listdir(dups_dir)) == ["batch_1"]  # batch 0 had no table yet
    dups = spark.read.parquet(f"{dups_dir}/*/").collect()
    flagged = {(r["new_id"], r["corpus_id"]) for r in dups}
    assert {(100 + i, i) for i in range(5)} <= flagged
    # novel docs never flagged
    assert all(r["new_id"] < 200 for r in dups)


def test_stream_dedup_replay_no_self_pairs(spark, tmp_path):
    """foreachBatch is at-least-once: a crash AFTER the signature write
    but BEFORE the checkpoint commit replays the same batch_id, and the
    standing-table scan would then see the failed attempt's own
    batch_{id} signatures and join the batch against itself. Simulate
    that exact state (signatures for batch 0 already on disk, checkpoint
    empty) and pin that the replay emits NO spurious pairs — neither
    self-pairs (new_id == corpus_id) nor within-batch pairs a clean
    first run would never produce."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.operators.dedup import minhash_signatures
    from ocr_text_recognition_spark.streaming.incremental import stream_dedup

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    # two of the five docs are near-copies of each other, so a
    # self-join of the batch WOULD produce a cross pair (30, 40) on top
    # of the five identity pairs — both must be absent after the fix.
    texts = [f"unique replay document {i} with words " * 3 for i in range(4)]
    texts.append(texts[3] + "tail")
    rows = list(zip([10, 20, 30, 40, 50], texts))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array([r[0] for r in rows], pa.int64()),
             pa.array([r[1] for r in rows], pa.string())],
            names=["doc_id", "text"],
        ),
        str(in_dir / "b1.parquet"),
    )

    sig_dir = str(tmp_path / "sig_table")
    dups_dir = str(tmp_path / "dups_out")
    # the "failed attempt": batch 0's own signatures are already in the
    # standing table (stamped with batch_id, exactly as process_batch
    # writes them), but the checkpoint was never committed
    batch_df = spark.read.schema("doc_id long, text string").parquet(str(in_dir))
    minhash_signatures(batch_df, "doc_id", "text", num_perm=8).withColumn(
        "batch_id", F.lit(0)
    ).write.parquet(f"{sig_dir}/batch_0")

    spark.conf.set("spark.sql.streaming.fileSource.schema.forceNullable", "true")
    q = stream_dedup(
        spark,
        str(in_dir),
        sig_dir,
        dups_dir,
        str(tmp_path / "dd_ckpt"),  # fresh checkpoint -> replays as batch 0
    )
    assert q.awaitTermination(600), "availableNow query did not finish"

    out_dirs = [d for d in os.listdir(dups_dir) if d.startswith("batch_")]
    if out_dirs:  # dir may exist (empty write) — rows must not
        assert spark.read.parquet(f"{dups_dir}/*/").count() == 0
    # the replay rewrote its batch-scoped signature dir in place
    assert sorted(d for d in os.listdir(sig_dir) if d.startswith("batch_")) == [
        "batch_0"
    ]
    assert spark.read.parquet(f"{sig_dir}/batch_0").count() == 5


def test_write_corpus_bounds_file_sizes(spark, tmp_path):
    """maxRecordsPerFile must actually split fat partitions: 1000 rows in
    ONE partition with a 100-record cap -> >= 10 part files, none larger
    than the cap; round-trip intact."""
    import glob

    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.sinks import write_corpus

    df = spark.range(0, 1000).coalesce(1).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    path = str(tmp_path / "corpus_out")
    write_corpus(df, path, max_records_per_file=100)
    parts = glob.glob(f"{path}/part-*.parquet")
    assert len(parts) >= 10
    assert all(pq.read_metadata(p).num_rows <= 100 for p in parts)
    assert spark.read.parquet(path).count() == 1000


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract across two checkpointed
    availableNow runs: a duplicate key arriving while its state is live is
    suppressed; a key whose state the watermark already evicted re-emits
    (bounded state = bounded guarantee, the always-on-ingest trade)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.streaming.incremental import dedup_within_watermark

    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us"))]
    )
    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([r[i] for r in rows], schema.field(i).type) for i in range(2)],
                schema=schema),
            str(in_dir / name))

    from datetime import datetime
    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    out_dir = str(tmp_path / "dd_out")

    def drain():
        stream = spark.readStream.schema("event_id long, ts timestamp").parquet(
            str(in_dir)
        )
        out = dedup_within_watermark(stream, ["event_id"], "ts", watermark="2 hours")
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(600), "availableNow query did not finish"

    # run 1: keys 1 (07:00) and 2 (12:00) -> watermark 10:00; key 1's
    # state (expires 07:00+2h=09:00 < watermark) is evicted, key 2's
    # (expires 14:00) survives
    write("b1.parquet", [(1, t(7)), (2, t(12))])
    drain()
    # run 2: key 1 re-arrives at 13:00 (state gone -> RE-EMITS), key 2 at
    # 12:30 (state live -> suppressed), key 3 new (emits)
    write("b2.parquet", [(1, t(13)), (2, t(12, 30)), (3, t(13, 30))])
    drain()

    from collections import Counter
    got = Counter(r["event_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == {1: 2, 2: 1, 3: 1}


def test_session_window_batch_equals_gap_sessionize(spark):
    """The native session_window grouping must agree with the lag+cumsum
    gap_sessionize on data away from the exact-gap boundary."""
    from datetime import datetime

    from ocr_text_recognition_spark.operators.sessionize import gap_sessionize
    from ocr_text_recognition_spark.streaming.incremental import (
        session_window_counts,
    )

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    rows = [
        (1, t(9, 0), 1.0), (1, t(9, 10), 2.0), (1, t(9, 25), 3.0),
        (1, t(11, 0), 4.0),                      # > 30 min gap -> new
        (2, t(9, 0), 5.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    sw = session_window_counts(ev, gap="30 minutes").collect()
    got = {(r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
           for r in sw}
    assert got == {
        (1, t(9, 0), 3, 6.0),
        (1, t(11, 0), 1, 4.0),
        (2, t(9, 0), 1, 5.0),
    }

    gs = gap_sessionize(
        ev.withColumn("tsec", F.unix_timestamp("ts")), ["user_id"], "tsec", 1800
    )
    twin = {
        (r["user_id"], r["start"], r["n"], r["s"])
        for r in gs.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert {(u, st, n, s) for u, st, n, s in twin} == got


def test_session_window_streaming_merges_across_microbatches(spark, tmp_path):
    """A session started in batch 1 absorbs a batch-2 event, and only
    finalizes (append mode) once a later event pushes the watermark past
    its end."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.streaming.incremental import (
        session_window_counts,
    )

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    schema = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("value", pa.float64())]
    )

    def write(name, rows):
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([r[i] for r in rows], schema.field(i).type)
                 for i in range(3)],
                schema=schema),
            str(in_dir / name))

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    out_dir = str(tmp_path / "sess_out")

    def drain():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(str(in_dir))
        out = session_window_counts(stream, gap="30 minutes", watermark="1 hour")
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(600), "availableNow query did not finish"

    write("b1.parquet", [(1, t(9, 0), 1.0), (1, t(9, 20), 2.0)])
    drain()
    # 9:40 merges into the batch-1 session (state carries across runs);
    # 14:00 pushes the watermark to 13:00 -> the merged session (end
    # 10:10) finalizes and appears in append output
    write("b2.parquet", [(1, t(9, 40), 4.0), (1, t(14, 0), 8.0)])
    drain()

    rows = {(r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out_dir).collect()}
    assert (1, t(9, 0), 3, 7.0) in rows
    # the 14:00 session is still open (watermark has not passed its end)
    assert not any(st == t(14, 0) for _, st, _, _ in rows)


def test_enrich_stream_stateless_broadcast_join(spark, tmp_path):
    """Stream-static enrichment: dimension values appear on matched
    events, unmatched events survive (left join), and the plan contains
    no stateful streaming operator — stream-static joins buffer
    nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_text_recognition_spark.streaming.incremental import enrich_stream

    in_dir = tmp_path / "enrich_in"
    in_dir.mkdir()
    pq.write_table(
        pa.Table.from_pydict(
            {"event_id": [1, 2, 3], "user_id": [10, 20, 99]}
        ),
        str(in_dir / "b0.parquet"),
    )
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "basic")], ["user_id", "tier"]
    )
    stream = spark.readStream.schema("event_id long, user_id long").parquet(
        str(in_dir)
    )
    out = enrich_stream(stream, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "availableNow query did not finish"
    rows = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert rows == {1: "gold", 2: "basic", 3: None}


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Stream-stream interval join: purchases match only same-user
    clicks at most 1 hour earlier; both sides watermarked so buffered
    state is evictable."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    from datetime import datetime

    from ocr_text_recognition_spark.streaming.incremental import (
        attribute_conversions,
    )

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    c_dir, p_dir = tmp_path / "clicks", tmp_path / "purchases"
    c_dir.mkdir(), p_dir.mkdir()
    pq.write_table(
        pa.Table.from_pydict(
            {
                "user_id": [1, 1, 2, 3],
                "click_ts": [t(9, 0), t(9, 50), t(9, 0), t(9, 0)],
            }
        ),
        str(c_dir / "b0.parquet"),
    )
    pq.write_table(
        pa.Table.from_pydict(
            {
                # user 1 buys at 10:10 (matches 9:50 click only — the
                # 9:00 click is >1h earlier); user 2 buys at 11:30 (no
                # match); user 4 never clicked.
                "user_id": [1, 2, 4],
                "purchase_ts": [t(10, 10), t(11, 30), t(9, 30)],
            }
        ),
        str(p_dir / "b0.parquet"),
    )
    clicks = spark.readStream.schema("user_id long, click_ts timestamp").parquet(
        str(c_dir)
    )
    purchases = spark.readStream.schema(
        "user_id long, purchase_ts timestamp"
    ).parquet(str(p_dir))
    out = attribute_conversions(clicks, purchases)
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "availableNow query did not finish"
    rows = {
        (r["user_id"], r["click_ts"], r["purchase_ts"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    assert rows == {(1, t(9, 50), t(10, 10))}
