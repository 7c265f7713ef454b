"""Table sources: the parquet fallback of read_table/write_table."""

from __future__ import annotations

from ocr_text_recognition_spark import sources


def test_read_write_table_parquet_fallback(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = str(tmp_path / "t")
    sources.write_table(df, path)
    back = sources.read_table(spark, path)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    # partition overwrite is idempotent
    sources.write_table(df, path, partition_by=["id"])
    sources.write_table(df, path, partition_by=["id"])
    assert sources.read_table(spark, path).count() == 2
