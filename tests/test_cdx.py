"""CDX derivative (r7): SURT key unit cases, segment sortedness and
byte-determinism, and the pure-JVM read plan."""

from __future__ import annotations

import glob
import gzip
import os

from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.functions.web import cdx_line, surt_key
from deepseek_ocr_api_rs_spark.plans.explain import physical_plan
from deepseek_ocr_api_rs_spark.sources.warc import read_cdx, write_cdx


def _key(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(surt_key("url").alias("k")).collect()[0]["k"]


def test_surt_basic_reversal_and_case(spark):
    assert (
        _key(spark, "https://www.Example.org/Path/To?b=2&a=1")
        == "org,example)/path/to?a=1&b=2"
    )


def test_surt_port_and_deep_host(spark):
    assert _key(spark, "http://a.b.C.example.org:8080/x") == (
        "org,example,c,b,a)/x"
    )


def test_surt_empty_path_becomes_slash(spark):
    assert _key(spark, "https://example.org") == "org,example)/"


def test_surt_www_only_leading_label_stripped(spark):
    # www in the MIDDLE of a host must survive
    assert _key(spark, "https://www.www2.example.org/") == "org,example,www2)/"


def test_surt_fragment_excluded_from_query(spark):
    assert _key(spark, "https://e.org/p?z=1&a=2#frag") == "org,e)/p?a=2&z=1"


def _write_once(spark, tmpdir: str) -> list[str]:
    df = (
        spark.range(0, 100)
        .withColumn("url", F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"), F.lit(".org/p/"), F.col("id").cast("string")))
        .withColumn("payload", F.concat(F.lit("body "), F.col("id").cast("string")))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("id")))
        .withColumn("mime", F.lit("text/html"))
        .withColumn("filename", F.lit("seg-0.warc.gz"))
        .repartition(4, "id")
    )
    lines = df.select(
        cdx_line("url", "warc_ts", "payload", "mime", "filename").alias("cdx_line")
    )
    manifest = write_cdx(lines, tmpdir).collect()
    assert sum(m.n_records for m in manifest) == 100
    return sorted(glob.glob(os.path.join(tmpdir, "cdx-*.gz")))


def test_segments_sorted_within_and_roundtrip(spark, tmp_path):
    out = str(tmp_path / "cdx")
    files = _write_once(spark, out)
    assert files
    total = 0
    for f in files:
        lines = gzip.decompress(open(f, "rb").read()).decode().splitlines()
        assert lines == sorted(lines), f  # sorted by SURT key within segment
        total += len(lines)
    assert total == 100
    back = read_cdx(spark, out)
    assert back.count() == 100
    row = back.orderBy("surt_key", "url").first()
    assert row.surt_key.startswith("org,h")
    assert row.digest.startswith("sha256:") and len(row.digest) == 71
    assert row.mime == "text/html" and row.filename == "seg-0.warc.gz"
    assert row.length == len(f"body {row.url.rsplit('/', 1)[1]}")


def test_segments_byte_deterministic(spark, tmp_path):
    a = _write_once(spark, str(tmp_path / "a"))
    b = _write_once(spark, str(tmp_path / "b"))
    assert [os.path.basename(f) for f in a] == [os.path.basename(f) for f in b]
    for fa, fb in zip(a, b):
        assert open(fa, "rb").read() == open(fb, "rb").read()


def test_read_plan_is_pure_jvm(spark, tmp_path):
    out = str(tmp_path / "cdx")
    _write_once(spark, out)
    plan = physical_plan(read_cdx(spark, out))
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
    ):
        assert marker not in plan, plan[:2000]
