"""Indexability-signal extraction (r7): rel=canonical, robots meta
noindex/nofollow, hreflang alternates — edge cases the oracle replica's
synthesized corpus can't isolate, plus the plan-purity assertion."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.functions.web import extract_indexability
from deepseek_ocr_api_rs_spark.plans.explain import physical_plan


def _sig(spark, html: str) -> dict:
    df = spark.createDataFrame([(html,)], "html string")
    row = extract_indexability(df).collect()[0]
    return row.asDict()


def test_canonical_attribute_order_free(spark):
    a = _sig(spark, '<link rel="canonical" href="https://e.org/a">')
    b = _sig(spark, '<link href="https://e.org/a" rel="canonical">')
    assert a["canonical"] == b["canonical"] == "https://e.org/a"


def test_first_canonical_wins(spark):
    s = _sig(
        spark,
        '<link rel="canonical" href="https://e.org/first">'
        '<link rel="canonical" href="https://e.org/second">',
    )
    assert s["canonical"] == "https://e.org/first"


def test_absent_signals_are_empty_not_null(spark):
    s = _sig(spark, "<html><head></head><body>x</body></html>")
    assert s["canonical"] == ""
    assert s["robots_meta"] == ""
    assert s["hreflang"] == ""
    assert s["noindex"] == 0 and s["nofollow"] == 0


def test_none_token_implies_both_flags(spark):
    s = _sig(spark, '<meta name="robots" content="NONE">')
    assert s["noindex"] == 1 and s["nofollow"] == 1


def test_tokens_case_and_whitespace_tolerant(spark):
    s = _sig(spark, '<meta content=" NoIndex ,  archive " name="robots">')
    assert s["noindex"] == 1 and s["nofollow"] == 0
    assert s["robots_meta"] == " NoIndex ,  archive "


def test_index_token_never_sets_noindex(spark):
    s = _sig(spark, '<meta name="robots" content="index, follow">')
    assert s["noindex"] == 0 and s["nofollow"] == 0


def test_substring_tokens_do_not_match(spark):
    # 'nonefoo' / 'prenoindex' must not trip the anchored token regex
    s = _sig(spark, '<meta name="robots" content="nonefoo, prenoindex">')
    assert s["noindex"] == 0 and s["nofollow"] == 0


def test_hreflang_pairs_sorted_and_lowercased(spark):
    s = _sig(
        spark,
        '<link rel="alternate" hreflang="zh" href="https://e.org/zh">'
        '<link rel="alternate" hreflang="de-AT" href="https://e.org/de">'
        '<link rel="alternate" type="application/rss+xml" href="/feed.xml">',
    )
    assert s["hreflang"] == "de-at=https://e.org/de;zh=https://e.org/zh"


def test_stylesheet_link_is_not_canonical(spark):
    s = _sig(spark, '<link rel="stylesheet" href="/s.css">')
    assert s["canonical"] == ""


def test_plan_is_pure_jvm(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_indexability"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
    ):
        assert marker not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# publication-date ladder (extract_page_date) — same file: both are the
# page-level signal miners of the r7 crawl-analytics surface.


def _date(spark, html: str, url: str) -> tuple:
    from deepseek_ocr_api_rs_spark.functions.web import extract_page_date

    df = spark.createDataFrame([(html, url)], "html string, url string")
    row = extract_page_date(df).collect()[0]
    return row["page_date"], row["date_source"]


def test_meta_beats_time_beats_url(spark):
    html = (
        '<meta property="article:published_time" content="2023-05-06T10:00:00Z">'
        '<time datetime="2022-01-02">x</time>'
    )
    assert _date(spark, html, "https://e.org/2021/3/4/p") == ("2023-05-06", "meta")
    assert _date(
        spark, '<time datetime="2022-01-02">x</time>', "https://e.org/2021/3/4/p"
    ) == ("2022-01-02", "time")
    assert _date(spark, "<p>x</p>", "https://e.org/2021/3/4/p") == (
        "2021-03-04",
        "url",
    )


def test_malformed_meta_falls_through(spark):
    html = '<meta property="article:published_time" content="last tuesday">'
    assert _date(spark, html, "https://e.org/2020/11/p") == ("2020-11-01", "url")
    assert _date(spark, html, "https://e.org/a/p") == ("", "")


def test_url_year_constrained_to_19xx_20xx(spark):
    # an id path /1234567/8/ must never read as a date
    assert _date(spark, "<p>x</p>", "https://e.org/1234567/8/p") == ("", "")
    assert _date(spark, "<p>x</p>", "https://e.org/1999/12/31/p") == (
        "1999-12-31",
        "url",
    )


def test_datetime_with_time_component_truncates(spark):
    assert _date(
        spark, '<time datetime="2024-02-29T23:59:59+01:00">x</time>', "u"
    ) == ("2024-02-29", "time")
