"""Table sources — Iceberg when the runtime is available, parquet otherwise.

The north rule targets Iceberg tables; this sandbox ships no Iceberg runtime
jar, so the reader/writer pair keeps Iceberg semantics (partition overwrite,
snapshot-friendly layout) behind ONE interface and degrades to plain parquet
directories (SURVEY.md §7 risk item). A deployment adds:

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.local.type=hadoop
    --conf spark.sql.catalog.local.warehouse=<warehouse>

and passes table identifiers (``local.db.documents``) instead of paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _is_table_ident(spark: SparkSession, ref: str) -> bool:
    """A table is a ref without path separators whose first dotted part names
    a configured catalog (``local.db.documents``); ``docs.parquet`` is a path."""
    if "/" in ref or "\\" in ref or "." not in ref:
        return False
    return spark.conf.get(f"spark.sql.catalog.{ref.split('.', 1)[0]}", None) is not None


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """ref = Iceberg table identifier (catalog.db.table) or a parquet path."""
    if _is_table_ident(spark, ref) and iceberg_available(spark):
        return spark.read.format("iceberg").load(ref)
    return spark.read.parquet(ref)


def write_table(
    df: DataFrame,
    ref: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partition-overwriting write — Iceberg overwritePartitions when
    available, dynamic-partition parquet overwrite otherwise. Both are
    idempotent at the partition granularity (the checkpoint contract)."""
    spark = df.sparkSession
    if _is_table_ident(spark, ref) and iceberg_available(spark):
        w = df.writeTo(ref)
        if mode == "overwrite":
            w.overwritePartitions()
        else:
            w.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by).option("partitionOverwriteMode", "dynamic")
    w.parquet(ref)

