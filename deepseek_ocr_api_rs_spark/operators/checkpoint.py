"""Per-bucket checkpoint manifests + resume (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Design (the KV-cache idea at job granularity — incremental computation,
crates/core/src/cache.rs:78-116, applied to partitions instead of tokens):

- the input is bucketed into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n_buckets)`` — stable across runs, unlike
  ``spark_partition_id`` which depends on scheduling);
- one Spark plan does a run's work: scan the input once, drop committed
  buckets, route each row to the task of its bucket with one bucket-aligned
  exchange (``repartitionById``, Spark >= 4.1: task *k* holds exactly
  bucket *k*), extract, and write once with ``partitionBy("bucket")`` into
  ``<output>/_staging`` (Spark's reader skips ``_``-prefixed directories,
  so readers of the output never see it);
- the driver then commits the staged buckets in sorted order with no Spark
  job: it renames ``_staging/bucket=<k>`` to ``bucket=<k>`` and appends one
  manifest row ``(bucket, run_id, n_docs, n_chars, n_blocks_accepted,
  committed_ts, n_buckets)`` to ``_checkpoints``. The row's metrics are read
  from the bucket's parquet files, so they are exact under task retry;
- resume drops the input rows of buckets that have a manifest row, so a
  killed run redoes only uncommitted buckets. A resume must use the
  ``n_buckets`` the manifest was written with: under another modulus the
  same bucket ids name other urls.

A bucket is either committed (its manifest row exists, appended after the
rename) or will be redone; redoing a bucket first removes whatever a killed
run left under its directory. A kill during the one write loses every
bucket of that run; a kill during the commits loses only the uncommitted
ones. Commits rename files on the driver, so ``output_dir`` and
``checkpoint_dir`` must be driver-visible local paths, as
``sources.snapshots`` already assumes for its commits.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("run_id", pa.string()),
        ("n_docs", pa.int64()),
        ("n_chars", pa.int64()),
        ("n_blocks_accepted", pa.int64()),
        ("committed_ts", pa.float64()),
        ("n_buckets", pa.int32()),
    ]
)

STAGING = "_staging"


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")
    )


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_checkpoints")


def read_manifest(checkpoint_dir: str) -> pa.Table:
    """Every manifest row. Only a missing manifest directory means nothing
    is committed; a manifest file that cannot be read raises."""
    path = manifest_path(checkpoint_dir)
    if not os.path.isdir(path):
        return MANIFEST_SCHEMA.empty_table()
    return pq.read_table(path, schema=MANIFEST_SCHEMA)


def committed_buckets(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    return set(read_manifest(checkpoint_dir).column("bucket").to_pylist())


def _check_n_buckets(checkpoint_dir: str, n_buckets: int) -> None:
    """Raise ``ValueError`` if the manifest was written with another
    ``n_buckets``: its bucket ids would name other urls under this one."""
    recorded = set(read_manifest(checkpoint_dir).column("n_buckets").to_pylist())
    recorded.discard(None)  # rows written before n_buckets was recorded
    if recorded - {n_buckets}:
        raise ValueError(
            f"checkpoint {checkpoint_dir} was written with n_buckets="
            f"{','.join(map(str, sorted(recorded)))}, but this run has "
            f"n_buckets={n_buckets}"
        )


def commit_bucket(
    output_dir: str, checkpoint_dir: str, bucket: int, run_id: str, n_buckets: int
) -> None:
    """Move ``_staging/bucket=<k>`` into the output and append its manifest
    row. The row file is written under a dot-name and renamed into place,
    so no reader sees a partial row."""
    name = f"bucket={bucket}"
    staged = os.path.join(output_dir, STAGING, name)
    stats = pq.read_table(staged, columns=["n_chars", "n_blocks_accepted"])
    final = os.path.join(output_dir, name)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(staged, final)
    row = {
        "bucket": bucket,
        "run_id": run_id,
        "n_docs": stats.num_rows,
        "n_chars": pc.sum(stats["n_chars"]).as_py() or 0,
        "n_blocks_accepted": pc.sum(stats["n_blocks_accepted"]).as_py() or 0,
        "committed_ts": time.time(),
        "n_buckets": n_buckets,
    }
    path = manifest_path(checkpoint_dir)
    os.makedirs(path, exist_ok=True)
    fname = f"part-{bucket:05d}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + fname)
    pq.write_table(pa.Table.from_pylist([row], schema=MANIFEST_SCHEMA), tmp)
    os.replace(tmp, os.path.join(path, fname))


def resume_filter(
    docs_bucketed: DataFrame, spark: SparkSession, checkpoint_dir: str
) -> DataFrame:
    """Drop rows of already-committed buckets.

    Implemented as an IN-filter on the (small) committed-bucket set rather
    than a join — the bucket list is tiny metadata, so this prunes with a
    pushed-down predicate instead of a shuffle.
    """
    done = committed_buckets(spark, checkpoint_dir)
    if not done:
        return docs_bucketed
    return docs_bucketed.filter(~F.col("bucket").isin(sorted(done)))


def run_resumable_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    run_id: str = "run",
    fail_after_buckets: int | None = None,
) -> int:
    """Extract every uncommitted bucket in one plan, then commit them one by
    one; returns #buckets committed this run. ``n_buckets`` is both the
    commit unit and the extraction's task count. ``fail_after_buckets``
    stops the commits early, as a kill would (for tests)."""
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents

    _check_n_buckets(checkpoint_dir, n_buckets)
    if committed_buckets(spark, checkpoint_dir) >= set(range(n_buckets)):
        return 0  # nothing left to do: start no Spark job
    todo = resume_filter(with_bucket(docs, n_buckets), spark, checkpoint_dir)
    extracted = extract_documents(todo.repartitionById(n_buckets, "bucket"))
    staging = os.path.join(output_dir, STAGING)
    with_bucket(extracted, n_buckets).write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(staging)
    staged = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(staging) if d.startswith("bucket=")
    )
    for done, bucket in enumerate(staged, 1):
        commit_bucket(output_dir, checkpoint_dir, bucket, run_id, n_buckets)
        if fail_after_buckets is not None and done >= fail_after_buckets:
            return done
    shutil.rmtree(staging)
    return len(staged)
