"""binaryFile media-dir scan + extension filter + debug sink."""

from __future__ import annotations

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
