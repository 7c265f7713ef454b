"""binaryFile media-dir scan + extension filter + debug sink, table and
JSONL sources."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_text_recognition_spark import sources
from ocr_text_recognition_spark.io_pandas import pandas_to_spark
from ocr_text_recognition_spark.kernel import render
from ocr_text_recognition_spark.kernel.imgcodec import encode_image


def test_read_media_dir_filters_extensions(spark, tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    payload = encode_image(render.render_text_image(["SCAN ME"]))
    (d / "a.img1").write_bytes(payload)
    (d / "b.IMG1").write_bytes(payload)  # case-insensitive extension
    (d / "notes.txt").write_bytes(b"not an image")
    media = sources.read_media_dir(spark, str(d))
    rows = {r["media_ref"]: bytes(r["content"]) for r in media.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"] == payload

    # scanned payloads flow straight into the kernel UDF
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.extraction.udfs import extract_ref_udf

    out = media.select(extract_ref_udf(F.lit("media"), "content").alias("t")).collect()
    assert {r["t"] for r in out} == {"SCAN ME"}


def test_dump_debug_images(spark, tmp_path):
    import pandas as pd

    payload = encode_image(render.render_text_image(["X"]))
    media_pd = pd.DataFrame(
        [{"media_ref": f"m{i}", "content": payload} for i in range(20)]
    )
    media = pandas_to_spark(spark, media_pd, "media")
    n = sources.dump_debug_images(media, str(tmp_path / "dbg"), sample_fraction=0.5)
    assert 0 < n <= 20
    files = list((tmp_path / "dbg").glob("*.img1"))
    assert len(files) == n


def test_read_write_table_parquet_fallback(spark, tmp_path):
    from ocr_text_recognition_spark import sources

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = str(tmp_path / "t")
    sources.write_table(df, path)
    back = sources.read_table(spark, path)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    # partition overwrite is idempotent
    sources.write_table(df, path, partition_by=["id"])
    sources.write_table(df, path, partition_by=["id"])
    assert sources.read_table(spark, path).count() == 2


def test_read_documents_jsonl_gz_with_poison_lines(spark, tmp_path):
    """JSONL ingestion: explicit schema (no inference pass), gzip handled
    by the codec layer, and a malformed line surfaces as a quarantined
    corrupt-record row instead of failing the job. The parsed interleaved
    rows run straight through the extraction pipeline."""
    import gzip

    from ocr_text_recognition_spark.sources import read_documents_jsonl

    good = [
        '{"doc_id":"d1","spans":[{"kind":"text","text":"hello","media_ref":"","offset":0}]}',
        '{"doc_id":"d2","spans":[{"kind":"text","text":"world","media_ref":"","offset":0},'
        '{"kind":"media","text":"","media_ref":"m1","offset":1}]}',
    ]
    poison = '{"doc_id":"d3","spans": THIS IS NOT JSON'
    p = tmp_path / "docs.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(good + [poison]) + "\n")

    df = read_documents_jsonl(spark, str(p)).cache()
    ok = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    got = {r["doc_id"]: [(s["kind"], s["media_ref"]) for s in r["spans"]]
           for r in ok.collect()}
    assert got == {"d1": [("text", "")], "d2": [("text", ""), ("media", "m1")]}
    assert bad.count() == 1 and "NOT JSON" in bad.collect()[0]["_corrupt_record"]

    # flat variant for dedup/text-analysis corpora
    flat = tmp_path / "flat.jsonl"
    flat.write_text('{"doc_id": 1, "text": "abc"}\n{"doc_id": 2, "text": "def"}\n')
    f2 = read_documents_jsonl(spark, str(flat), interleaved=False)
    assert {(r["doc_id"], r["text"]) for r in
            f2.filter(F.col("_corrupt_record").isNull()).collect()} == {(1, "abc"), (2, "def")}
