"""HTML heading outline + anchor-text aggregation (r7): unit semantics
on hand-built pages plus pure-JVM plan assertions for both queries."""

from __future__ import annotations

import pyspark.sql.functions as F

from deepseek_ocr_api_rs_spark.functions.web import (
    extract_anchor_texts,
    extract_headings,
)
from deepseek_ocr_api_rs_spark.plans.explain import physical_plan

SF = "/root/testdata/sf0.001"


def _page(spark, html, url="https://h.example.org/a/b/p.html"):
    return spark.createDataFrame(
        [(1, url, html)], "doc_id long, url string, html string"
    )


def test_headings_preorder_levels_and_tag_strip(spark):
    html = (
        '<html><h1 class="t">Main &amp; Title</h1><p>x</p>'
        "<h2>\n Sub <b>bold</b>\tone </h2><H3>deep</H3><h2>two</h2></html>"
    )
    rows = (
        extract_headings(_page(spark, html))
        .select("idx", "level", "title")
        .orderBy("idx")
        .collect()
    )
    assert [(r.idx, r.level, r.title) for r in rows] == [
        (0, 1, "Main &amp; Title"),
        (1, 2, "Sub bold one"),
        (2, 3, "deep"),
        (3, 2, "two"),
    ]


def test_headings_empty_page_yields_no_rows(spark):
    assert extract_headings(_page(spark, "<p>no headings</p>")).count() == 0


def test_anchor_text_resolution_and_filtering(spark):
    html = (
        '<p><a href="https://x.example.org/t">abs <b>text</b></a>'
        "<a href='rel/p2.html'>rel\ntext</a>"
        '<a href="mailto:a@b">mail</a>'
        '<a href="/root"><img src=i></a>'
        "<a name='no-href'>bare</a></p>"
    )
    rows = (
        extract_anchor_texts(_page(spark, html))
        .select("resolved", "anchor_text")
        .orderBy("resolved")
        .collect()
    )
    assert [(r.resolved, r.anchor_text) for r in rows] == [
        ("https://h.example.org/a/b/rel/p2.html", "rel text"),
        ("https://h.example.org/root", ""),  # image anchor keeps '' text
        ("https://x.example.org/t", "abs text"),
    ]


def test_anchor_aggregation_is_cross_document(spark):
    docs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://s.example.org/"), F.col("id").cast("string"),
                 F.lit(".html")).alias("url"),
        F.concat(F.lit('<a href="https://hub.example.org/">t'),
                 F.col("id").cast("string"), F.lit("</a>")).alias("html"),
    )
    agg = (
        extract_anchor_texts(docs)
        .groupBy("resolved")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(
                F.array_sort(F.collect_list("anchor_text")), "|"
            ).alias("texts"),
        )
        .collect()
    )
    assert len(agg) == 1
    assert agg[0].n == 6
    assert agg[0].texts == "t0|t1|t2|t3|t4|t5"


def test_outline_and_anchor_plans_are_pure_jvm(spark):
    """Both r7 queries run with no Python evaluation operator of any
    kind — extraction, resolution and the anchor aggregation are all
    codegen/JVM (the 100 TB contract for crawl-analytics queries)."""
    import __spark_entry__ as entrymod

    for name in ("q_html_outline", "q_anchor_text"):
        df = entrymod.queries()[name](spark, SF)
        plan = physical_plan(df)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                       "FlatMapGroupsInPandas"):
            assert marker not in plan, (name, plan[:2000])


def test_table_cells_positions_header_flag_and_tag_strip(spark):
    html = (
        "<table><tr><th> H1 </th><th>H2</th></tr>"
        "<tr><td>a</td><td><b>b</b> c</td></tr></table>"
        "<p>x</p><table><tr><td>solo</td></tr></table>"
    )
    from deepseek_ocr_api_rs_spark.functions.web import extract_tables

    rows = (
        extract_tables(_page(spark, html))
        .select("table_idx", "row_idx", "col_idx", "is_header",
                "cell_text")
        .orderBy("table_idx", "row_idx", "col_idx")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        (0, 0, 0, 1, "H1"),
        (0, 0, 1, 1, "H2"),
        (0, 1, 0, 0, "a"),
        (0, 1, 1, 0, "b c"),
        (1, 0, 0, 0, "solo"),
    ]


def test_tableless_page_yields_no_rows(spark):
    from deepseek_ocr_api_rs_spark.functions.web import extract_tables

    assert extract_tables(_page(spark, "<p>nope</p>")).count() == 0


def test_tables_plan_is_pure_jvm(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_html_tables"](spark, SF)
    plan = physical_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan[:2000]


def test_assets_kinds_gating_and_resolution(spark):
    html = (
        '<link rel="stylesheet" href="/s.css">'
        "<link rel='icon' href='/f.ico'>"
        "<script>inline();</script>"
        '<script src="https://cdn.example.net/a.js"></script>'
        '<img src="img/p.png"><iframe src="//e.example.net/w"></iframe>'
    )
    from deepseek_ocr_api_rs_spark.functions.web import extract_assets

    rows = (
        extract_assets(_page(spark, html))
        .select("kind", "src", "resolved")
        .orderBy("kind", "src")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        ("iframe", "//e.example.net/w", "https://e.example.net/w"),
        ("img", "img/p.png", "https://h.example.org/a/b/img/p.png"),
        ("script", "https://cdn.example.net/a.js",
         "https://cdn.example.net/a.js"),
        ("stylesheet", "/s.css", "https://h.example.org/s.css"),
    ]


def test_assets_plan_is_pure_jvm(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_page_assets"](spark, SF)
    plan = physical_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan[:2000]


def test_img_captions_alt_handling(spark):
    html = (
        '<img src="a.jpg" alt="A  cat   sits">'
        "<img src='/b.png'>"
        '<img src="c.gif" alt="">'
        "<img alt='no src here'>"
    )
    from deepseek_ocr_api_rs_spark.functions.web import (
        extract_img_captions,
    )

    rows = (
        extract_img_captions(_page(spark, html))
        .select("img_idx", "src", "alt", "has_alt", "alt_words")
        .orderBy("img_idx")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        (0, "a.jpg", "A cat sits", 1, 3),
        (1, "/b.png", "", 0, 0),
        (2, "c.gif", "", 0, 0),
    ]


def test_img_captions_plan_is_pure_jvm(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_img_captions"](spark, SF)
    plan = physical_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan[:2000]
