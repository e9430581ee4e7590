"""Table IO (reference §2.1 S10 sink: the JSON response → here, the output
table).

``read_documents`` is the job's scan of the pages table. The job does not
write through this module: each bucket task publishes its own parquet file
through ``sources.sink``, and ``job.py --snapshot-table`` commits the
output through ``sources.snapshots``. ``write_table`` is a standalone
writer: a path gets a parquet write, a table identifier gets
``writeTo(...).append()`` into a configured catalog (Iceberg in
production; no Iceberg runtime exists in this container).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    # conf.get returns None (not an error) for unset catalog keys in Spark 4
    return spark.conf.get("spark.sql.catalog.spark_catalog", None) is not None


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan of the pages table (parquet). Callers select the columns they
    need; the scan reads only those."""
    return spark.read.parquet(path)


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    """parquet path or (with a catalog) an Iceberg table identifier."""
    if "/" in target or target.endswith(".parquet"):
        df.write.mode(mode).parquet(target)
    else:
        df.writeTo(target).append()
