"""Table sources: the parquet fallback of read_table/write_table, and which
refs name a table."""

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


def test_dotted_relative_path_is_not_a_table(spark, tmp_path, monkeypatch):
    """A relative parquet path with a dot in its name stays a path when the
    Iceberg runtime is present: only a ref whose first dotted part names a
    catalog configured in the session is a table identifier."""
    from types import SimpleNamespace

    monkeypatch.setattr(sources, "iceberg_available", lambda spark: True)
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(str(tmp_path / "docs.parquet"))
    # a session whose reader resolves relative paths under tmp_path and
    # has no table format to read with
    session = SimpleNamespace(
        conf=spark.conf,
        read=SimpleNamespace(parquet=lambda ref: spark.read.parquet(str(tmp_path / ref))),
    )
    assert [tuple(r) for r in sources.read_table(session, "docs.parquet").collect()] == [(1, "a")]
    assert not sources._is_table_ident(spark, "docs.parquet")

    assert not sources._is_table_ident(spark, "testcat.db.documents")
    spark.conf.set("spark.sql.catalog.testcat", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert sources._is_table_ident(spark, "testcat.db.documents")
        assert not sources._is_table_ident(spark, "testcat/db.documents")
    finally:
        spark.conf.unset("spark.sql.catalog.testcat")
