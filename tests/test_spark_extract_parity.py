"""End-to-end Spark-path parity: parquet → mapInArrow extraction → byte-
identical to persisted goldens (tier 1 — the contract of BASELINE.json
input_hint: 'byte-identical extracted text per url')."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.operators.extract import (
    extract_documents,
    extraction_metrics,
)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")


@pytest.fixture(scope="module")
def extracted(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    return extract_documents(docs).cache()


def test_byte_identical_to_goldens(spark, extracted):
    golden = spark.read.parquet(
        os.path.join(GOLDEN_DIR, "golden_extractions.parquet")
    )
    joined = extracted.alias("got").join(golden.alias("exp"), "url", "full_outer")
    diff = joined.filter(
        (F.col("got.extracted_text").isNull())
        | (F.col("exp.extracted_text").isNull())
        | (F.col("got.extracted_text") != F.col("exp.extracted_text"))
        | (F.col("got.branch") != F.col("exp.branch"))
        | (F.col("got.n_blocks_total") != F.col("exp.n_blocks_total"))
        | (F.col("got.n_blocks_accepted") != F.col("exp.n_blocks_accepted"))
    )
    bad = diff.limit(5).collect()
    assert not bad, f"{diff.count()} urls diverge from goldens; first: {bad[:2]}"
    assert extracted.count() == golden.count() == 300


def test_schema_version_pinned(spark):
    from deepseek_ocr_api_rs_spark import SCHEMA_VERSION

    golden = spark.read.parquet(
        os.path.join(GOLDEN_DIR, "golden_extractions.parquet")
    )
    versions = [r.schema_version for r in golden.select("schema_version").distinct().collect()]
    assert versions == [SCHEMA_VERSION]


def test_lang_filter_pushed_down(spark, corpus_path):
    """Catalyst must push the caller's lang predicate (the job's --langs)
    through the extraction stage into the parquet scan and prune the unused
    text column (SURVEY §4 early-termination analogue)."""
    docs = spark.read.parquet(corpus_path).filter(F.col("lang").isin(["en"]))
    plan = extract_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1][:200]
    # ReadSchema must not include the convenience `text` column
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "text" not in read_schema.replace("extracted_text", "")


def test_metrics_rollup(extracted):
    rows = {r.branch: r for r in extraction_metrics(extracted).collect()}
    assert set(rows) <= {"html", "pdf", "text", "error"}
    assert rows["html"].n_docs > 200
    assert 0.0 < rows["html"].block_accept_rate < 1.0
    # the passthrough branch has no scorer: every block accepted
    assert rows["text"].n_docs > 0
    assert rows["text"].block_accept_rate == 1.0
    assert rows["error"].total_chars == 0


def test_warc_ts_outside_nanosecond_range_passes_through(spark):
    """``warc_ts`` rides through the stage as the input's Arrow column.
    Stamps outside pandas' nanosecond range (1677-2262), the largest
    stamp Spark holds, and a null all extract in one batch, and each
    comes out equal to the input."""
    utc = dt.timezone.utc
    stamps = [
        dt.datetime(1600, 1, 1, tzinfo=utc),
        dt.datetime(2300, 1, 1, tzinfo=utc),
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        None,
    ]
    page = b"<html><body><p>A paragraph of ordinary words for the scorer.</p></body></html>"
    docs = spark.createDataFrame(
        [(f"u{i}", ts, page, "", "en") for i, ts in enumerate(stamps)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1)
    got = {r.url: r for r in extract_documents(docs).collect()}
    want = {r.url: r.warc_ts for r in docs.select("url", "warc_ts").collect()}
    assert sorted(got) == sorted(want) == [f"u{i}" for i in range(len(stamps))]
    for url, ts in want.items():
        assert got[url].warc_ts == ts, url
        assert got[url].branch == "html" and got[url].n_chars > 0, url
    assert [want[f"u{i}"] is None for i in range(len(stamps))] == [False] * 3 + [True]


def test_golden_blocks_concat_invariant(spark):
    """FIXTURES.md §3: concat of accepted block_text in block_idx order
    (+ separators, normalized) == extracted_text — checked in Spark SQL."""
    golden_dir = GOLDEN_DIR
    blocks = spark.read.parquet(os.path.join(golden_dir, "golden_blocks.parquet"))
    ext = spark.read.parquet(os.path.join(golden_dir, "golden_extractions.parquet"))
    rebuilt = (
        blocks.filter("accepted")
        .groupBy("url")
        .agg(
            F.concat_ws(
                "\n\n", F.array_sort(F.collect_list(F.struct("block_idx", "block_text"))).block_text
            ).alias("rebuilt")
        )
    )
    j = ext.filter("branch = 'html'").join(rebuilt, "url", "left")
    bad = j.filter(
        F.trim(F.coalesce(F.col("rebuilt"), F.lit(""))) != F.col("extracted_text")
    ).count()
    assert bad == 0
