"""The Spark extraction stage: documents table → extracted-text table.

One ``mapInArrow`` stage over Arrow record batches (BASELINE.json
input_hint: vectorized pandas/Arrow UDFs, no per-row Python): each input
batch becomes one output ``RecordBatch``, with no pandas leg on either
side. Inside each batch the work is the pooled numpy kernel
(``extraction.batch.extract_columns``); across batches Spark's task
parallelism replaces the reference's rayon fan-out
(crates/infer-deepseek/src/model/mod.rs:704-745 — and per SURVEY §2.3 E8 we
do NOT nest thread pools inside the UDF).

Scale design (SURVEY.md §7.2-6):
- extraction is map-only: the stage adds no exchange of its own. The job
  (``operators.checkpoint``) runs ``_extract_batches`` in the task of each
  ``pmod(xxhash64(url), n_buckets)`` bucket, behind one bucket-aligned
  exchange, and that task writes and commits its bucket itself;
  ``extract_documents`` is the stage as a DataFrame, for the streaming
  jobs and ``bench.py``, and ``operators.partitioning.repartition_by_url``
  (one salted url-hash exchange that spreads hot hosts) gives them
  balanced tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deepseek_ocr_api_rs_spark.extraction.batch import extract_columns

EXTRACT_OUTPUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        StructField("branch", StringType()),
        StructField("extracted_text", StringType()),
        StructField("n_chars", LongType()),
        StructField("n_blocks_total", LongType()),
        StructField("n_blocks_accepted", LongType()),
        # provenance spans (accepted blocks → [start,end) into extracted_text)
        StructField("span_starts", ArrayType(LongType())),
        StructField("span_ends", ArrayType(LongType())),
        StructField("truncated", BooleanType()),
    ]
)


_PASSTHROUGH = ("url", "warc_ts", "lang")
_KERNEL_TYPES = [f.type for f in to_arrow_schema(EXTRACT_OUTPUT_SCHEMA)][len(_PASSTHROUGH):]


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One output batch per input batch. ``url``, ``warc_ts`` and ``lang``
    are the input's Arrow arrays as they came (no pandas leg, so no
    timestamp is coerced to nanoseconds); the rest are the kernel's
    columns, typed as ``EXTRACT_OUTPUT_SCHEMA``."""
    for batch in batches:
        out = extract_columns(batch.column("html").to_pylist())
        yield pa.RecordBatch.from_arrays(
            [batch.column(c) for c in _PASSTHROUGH]
            + [pa.array(col, t) for col, t in zip(out, _KERNEL_TYPES)],
            names=EXTRACT_OUTPUT_SCHEMA.names,
        )


def extract_documents(docs: DataFrame) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted table.

    Column pruning drops the convenience ``text`` column at the scan
    (ReadSchema excludes it). A filter the caller puts on ``docs`` sits
    below the UDF stage, so Catalyst pushes it into the parquet scan
    (early-termination analogue, SURVEY §4 — skip non-target rows before
    the expensive stage).
    """
    cols = ["url", "warc_ts", "html", "lang"]
    return docs.select(*cols).mapInArrow(_extract_batches, schema=EXTRACT_OUTPUT_SCHEMA)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Corpus-level metrics rollup (chars/doc, block-accept rate) — the
    analogue of the reference's per-stage benchmark totals hash-agg
    (crates/cli/src/bench.rs:139-172)."""
    return extracted.groupBy("branch").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars_per_doc"),
        F.sum("n_blocks_total").alias("n_blocks_total"),
        F.sum("n_blocks_accepted").alias("n_blocks_accepted"),
        F.round(
            F.sum("n_blocks_accepted") / F.greatest(F.sum("n_blocks_total"), F.lit(1)),
            4,
        ).alias("block_accept_rate"),
    )
