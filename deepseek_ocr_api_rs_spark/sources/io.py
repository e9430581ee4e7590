"""Table IO (reference §2.1 S10 sink: the JSON response → here, the output
table).

Iceberg is the production target (atomic appends, snapshot-based resume);
this container has no Iceberg runtime, so the layer is format-gated: the
same call sites run parquet here and ``writeTo(...).append()`` when an
Iceberg catalog is configured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    # conf.get returns None (not an error) for unset catalog keys in Spark 4
    return spark.conf.get("spark.sql.catalog.spark_catalog", None) is not None


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan of the pages table. Explicit schema projection keeps ReadSchema
    minimal even when callers forget to select."""
    return spark.read.parquet(path)


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    """parquet path or (with a catalog) an Iceberg table identifier."""
    if "/" in target or target.endswith(".parquet"):
        df.write.mode(mode).parquet(target)
    else:
        df.writeTo(target).append()
