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
  bucket *k*), and run one ``mapInArrow`` stage;
- the task of each bucket still to do extracts it and commits it itself
  (``commit_bucket``, through ``sources.sink``): first
  ``bucket=<k>/part-<k>.parquet``, then its manifest row ``(bucket,
  run_id, n_docs, n_chars, n_blocks_accepted, committed_ts, n_buckets)``
  as ``_checkpoints/part-<k>.parquet``. Both names are fixed by the
  bucket, so a retried attempt replaces them, and the row counts the rows
  the task wrote. A bucket with no rows gets a row with ``n_docs = 0`` and
  no data file;
- resume drops the input rows of buckets that have a manifest row, so a
  killed run redoes only uncommitted buckets. A resume must use the
  ``n_buckets`` the manifest was written with: under another modulus the
  same bucket ids name other urls.

A kill loses only the buckets in flight: their redo replaces what they
left. ``output_dir`` and ``checkpoint_dir`` must be visible to the
executors, as for the WARC sinks.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections.abc import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from deepseek_ocr_api_rs_spark.operators.extract import _extract_batches
from deepseek_ocr_api_rs_spark.sources.sink import attempt_file, publish, task_attempt

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
    output_dir: str,
    checkpoint_dir: str,
    bucket: int,
    batches: Iterable[pa.RecordBatch],
    run_id: str,
    n_buckets: int,
    killed: bool = False,
) -> dict | None:
    """Publish the extracted ``batches`` of ``bucket`` as its data file,
    then its manifest row, and return the row. ``killed`` stops after the
    tmp data file is written, as a kill would (for tests)."""
    bucket_dir = os.path.join(output_dir, f"bucket={bucket}")
    segment = f"part-{bucket:05d}.parquet"
    row = dict(bucket=bucket, run_id=run_id, n_docs=0, n_chars=0, n_blocks_accepted=0)
    with attempt_file(bucket_dir, segment) as tmp, contextlib.ExitStack() as stack:
        writer = None
        for batch in batches:
            if writer is None:
                os.makedirs(bucket_dir, exist_ok=True)
                writer = stack.enter_context(pq.ParquetWriter(tmp, batch.schema))
            writer.write_batch(batch)
            row["n_docs"] += batch.num_rows
            for col in ("n_chars", "n_blocks_accepted"):
                row[col] += pc.sum(batch.column(col)).as_py() or 0
        stack.close()
        if killed:
            return None
        if writer is not None:
            publish(tmp, bucket_dir, segment)
    row.update(committed_ts=time.time(), n_buckets=n_buckets)
    mdir = manifest_path(checkpoint_dir)
    os.makedirs(mdir, exist_ok=True)
    with attempt_file(mdir, segment) as tmp:
        pq.write_table(pa.Table.from_pylist([row], schema=MANIFEST_SCHEMA), tmp)
        publish(tmp, mdir, segment)
    return row


def _bucket_task(batches, todo, survivors, **commit) -> Iterator[pa.RecordBatch]:
    """The task of one bucket: extract and commit it if it is to do. Tasks
    of buckets outside ``survivors`` are killed before they publish."""
    bucket = task_attempt()[0]
    if bucket in todo:
        batches = _extract_batches(batches)
        row = commit_bucket(bucket=bucket, batches=batches, killed=bucket not in survivors, **commit)
        if row is not None:
            yield pa.RecordBatch.from_pylist([row], schema=MANIFEST_SCHEMA)


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
    """Extract and commit every uncommitted bucket in one plan; returns
    #buckets committed this run. ``n_buckets`` is both the commit unit and
    the extraction's task count. ``fail_after_buckets`` kills the tasks of
    all but the first that many buckets still to do before they publish,
    as a kill of the job would (for tests)."""
    _check_n_buckets(checkpoint_dir, n_buckets)
    todo = sorted(set(range(n_buckets)) - committed_buckets(spark, checkpoint_dir))
    if not todo:
        return 0  # nothing left to do: start no Spark job
    task = functools.partial(
        _bucket_task,
        output_dir=output_dir,
        checkpoint_dir=checkpoint_dir,
        todo=frozenset(todo),
        survivors=frozenset(todo[:fail_after_buckets]),
        run_id=run_id,
        n_buckets=n_buckets,
    )
    bucketed = resume_filter(with_bucket(docs, n_buckets), spark, checkpoint_dir)
    rows = (
        bucketed.repartitionById(n_buckets, "bucket")
        .select("url", "warc_ts", "html", "lang")
        .mapInArrow(task, schema=from_arrow_schema(MANIFEST_SCHEMA))
        .collect()
    )
    # When no to-do bucket has input rows, AQE drops the empty exchange and
    # no task runs: the driver commits the empty buckets no task returned.
    unreturned = [] if fail_after_buckets is not None else sorted(
        set(todo) - {r.bucket for r in rows}
    )
    for bucket in unreturned:
        commit_bucket(output_dir, checkpoint_dir, bucket, (), run_id, n_buckets)
    return len(rows) + len(unreturned)
