"""The Spark extraction stage: documents table → extracted-text table.

One ``mapInPandas`` stage over Arrow record batches (mandated by
BASELINE.json input_hint: vectorized pandas/Arrow UDFs, no per-row Python).
Inside each batch the work is the pooled numpy kernel
(``extraction.batch.extract_batch``); across batches Spark's task
parallelism replaces the reference's rayon fan-out
(crates/infer-deepseek/src/model/mod.rs:704-745 — and per SURVEY §2.3 E8 we
do NOT nest thread pools inside the UDF).

Scale design (SURVEY.md §7.2-6):
- extraction is map-only: the stage adds no exchange of its own. The job
  (``operators.checkpoint.run_resumable_extraction``) puts one
  bucket-aligned exchange in front of it, so each task extracts exactly
  one ``pmod(xxhash64(url), n_buckets)`` bucket, and writes all buckets
  in one pass; ``operators.partitioning.repartition_by_url`` (one salted
  url-hash exchange that spreads hot hosts) is for callers that want
  balanced tasks instead, such as ``bench.py``;
- per-bucket checkpoint manifests (``operators.checkpoint``) give lineage
  and resume.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch

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


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = extract_batch(list(pdf["html"]))
        yield pd.DataFrame(
            {
                "url": pdf["url"].values,
                "warc_ts": pdf["warc_ts"].values,
                "lang": pdf["lang"].values,
                "branch": out["branch"].values,
                "extracted_text": out["extracted_text"].values,
                "n_chars": out["n_chars"].values,
                "n_blocks_total": out["n_blocks_total"].values,
                "n_blocks_accepted": out["n_blocks_accepted"].values,
                "span_starts": out["span_starts"].values,
                "span_ends": out["span_ends"].values,
                "truncated": out["truncated"].values,
            }
        )


def extract_documents(docs: DataFrame) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted table.

    Column pruning drops the convenience ``text`` column at the scan
    (ReadSchema excludes it). A filter the caller puts on ``docs`` (the
    job's ``--langs``) sits below the UDF stage, so Catalyst pushes it into
    the parquet scan (early-termination analogue, SURVEY §4 — skip
    non-target rows before the expensive stage).
    """
    cols = ["url", "warc_ts", "html", "lang"]
    return docs.select(*cols).mapInPandas(_extract_batches, schema=EXTRACT_OUTPUT_SCHEMA)


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
