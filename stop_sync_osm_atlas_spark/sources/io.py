"""Table IO: Iceberg when available, partitioned parquet otherwise.

The production sink is an Iceberg table (atomic snapshot commits = the
resume checkpoints; analog of the reference's staged DB commits,
reference import_data_db.py:586, 787, 852, 952). The sandbox image has
no Iceberg jars, so the writer degrades to directory-partitioned parquet
with an explicit _SUCCESS-style commit marker per partition
(sources/checkpoint.py) — same commit semantics, file-system edition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg classes are actually on the JVM classpath.

    py4j returns a JavaPackage placeholder (it does NOT raise) for a
    missing class, so the old attribute-access probe reported True on
    every cluster — a real class load is the check. Spark's
    Utils.classForName resolves via the CONTEXT classloader, which is
    what holds jars shipped with --packages/spark.jars; plain
    java.lang.Class.forName would use the app classloader and
    false-negative on exactly the deployment the gate exists for."""
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(  # type: ignore[attr-defined]
            "org.apache.iceberg.Table", True, False
        )
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
