"""The columnar HTML segmenter against its parity oracles (tests/html_oracle.py).

- ``segment_html`` must equal the frozen event-sink driver field for field
  on every HTML page of three generated corpora and on tag soup; the one
  accepted difference is the rawtext skip after a character whose
  lowercase is two code points (``'İ'``), which the frozen driver got wrong;
- ``text_counts`` must equal the per-block ``_word_stats`` loop;
- the pooled kernel must not depend on how a batch is sliced.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from html_oracle import _word_stats, segment_html_frozen, segment_html_stdlib

from deepseek_ocr_api_rs_spark.extraction import charset as CS
from deepseek_ocr_api_rs_spark.extraction import features as FT
from deepseek_ocr_api_rs_spark.extraction import markdown as MD
from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch
from deepseek_ocr_api_rs_spark.extraction.html_blocks import (
    segment_columns,
    segment_html,
    text_counts,
)
from deepseek_ocr_api_rs_spark.extraction.pdf_spans import PDF_MAGIC
from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents


def _html_pages(seed: int) -> list[str]:
    pages = []
    for payload in make_documents(4000, start_id=1_000_000 + seed * 100_000).html:
        data = bytes(payload)
        if data.startswith(PDF_MAGIC):
            continue
        routed = CS.route_decode(data, FT.truncate_payload)
        if routed is not None and MD.looks_like_markup(routed[0]):
            pages.append(routed[0])
    return pages


@pytest.fixture(scope="module", params=[101, 102, 999])
def html_pages(request):
    return _html_pages(request.param)


def test_segment_html_matches_frozen_driver_on_corpus(html_pages):
    for i, html in enumerate(html_pages):
        assert segment_html(html) == segment_html_frozen(html), i


def test_columns_of_a_batch_are_the_pages_blocks(html_pages):
    cols = segment_columns(html_pages)
    blocks = [b for html in html_pages for b in segment_html(html)]
    assert cols.counts == [len(segment_html(html)) for html in html_pages]
    assert cols.texts == [b.text for b in blocks]
    assert ["/".join(p) for p in cols.paths] == [b.tag_path for b in blocks]


def test_text_counts_match_word_stats(html_pages):
    texts = segment_columns(html_pages).texts
    assert list(zip(*text_counts(texts))) == [_word_stats(t) for t in texts]


@given(st.lists(st.text(max_size=12), min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_text_counts_match_word_stats_on_unicode(chunks):
    text = " ".join(" ".join(chunks).split())
    if text:
        assert list(zip(*text_counts([text]))) == [_word_stats(text)]


# Tag soup with self-closing tags, unclosed quotes, rawtext elements and
# 'İ', whose lowercase is two code points.
_tag = st.sampled_from(
    ["p", "div", "li", "h2", "nav", "a", "span", "script", "style", "table",
     "td", "br", "SCRIPT", "Style"]
)
_chunk = st.one_of(
    st.text(alphabet="abc &<>/=\"'\n\tİ;", max_size=20),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    _tag.map(lambda t: f"<{t}/>"),
    _tag.map(lambda t: f"<{t} x=\"y"),
    _tag.map(lambda t: f"<{t} x='y>"),
    st.sampled_from(
        ["&amp;", "&lt;", "&#65;", "<!-- c -->", "<!DOCTYPE html>", "<![CDATA[x]]>",
         "/>", "İ", "the", "and"]
    ),
)
_soup = st.lists(_chunk, max_size=40).map("".join)

# one code point that lowercases to itself and means nothing to the grammar
_STAND_IN = "\x01"


@given(_soup)
@settings(max_examples=300, deadline=None)
def test_segment_html_matches_frozen_driver_on_soup(html):
    """The frozen driver searched html.lower() for a rawtext close tag, so
    every 'İ' before it shifted the skip. With 'İ' replaced by a one-code-
    point stand-in its positions are right, and its blocks, mapped back,
    are what the segmenter must produce."""
    assert _STAND_IN not in html
    want = segment_html_frozen(html.replace("İ", _STAND_IN))
    for b in want:
        b.text = b.text.replace(_STAND_IN, "İ")
        b.tag_path = b.tag_path.replace(_STAND_IN, "İ".lower())
    assert segment_html(html) == want


def test_rawtext_skip_after_two_code_point_lowercase():
    html = (
        "<p>" + "İ" * 30 + "</p><script>var x=1;</script>"
        "<p>hello world from the page</p><p>second para</p>"
    )
    texts = [b.text for b in segment_html(html)]
    assert texts == ["İ" * 30, "hello world from the page", "second para"]
    assert texts == [b.text for b in segment_html_stdlib(html)]
    # the frozen driver skipped 30 characters too far, into the paragraph
    assert "hello world from the page" not in [b.text for b in segment_html_frozen(html)]


def test_self_closing_tag_is_a_known_driver_difference():
    """`<div/>` opens a div in the regex tokenizer (its attribute group
    takes the '/'); stdlib's parser reports a start-end tag, which opens
    nothing. Both drivers flush at it."""
    html = "<div/><p>text here</p>"
    assert [b.tag_path for b in segment_html(html)] == ["div/p"]
    assert [b.tag_path for b in segment_html_stdlib(html)] == ["p"]


def test_extract_batch_in_8_page_slices_equals_whole_batch():
    """8-page requests (the server's shape) give the whole batch's rows."""
    payloads = list(make_documents(400, start_id=1_000_000 + 999 * 100_000).html)
    whole = extract_batch(payloads)
    sliced = pd.concat(
        [extract_batch(payloads[i : i + 8]) for i in range(0, len(payloads), 8)],
        ignore_index=True,
    )
    assert whole.to_dict("list") == sliced.to_dict("list")
